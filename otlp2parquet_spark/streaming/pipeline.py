"""Live Structured-Streaming forms of the T-group operators (SURVEY §2.3).

The oracle-matched event-time twins live in streaming/batch_twins.py; this
module is the actual `readStream` surface — watermarks, streaming dedup, and
custom per-key state — exercised operationally in tests (a closed input via
availableNow must reproduce the batch twin's results exactly).

| id | operator                          | here                           |
|----|-----------------------------------|--------------------------------|
| T1 | tumbling 1-min count/agg          | tumbling_counts                |
| T2 | sliding 5-min/1-min agg           | sliding_counts                 |
| T4 | watermark + late-data drop        | withWatermark in every pipeline|
| T5 | streaming dedup by key            | dedup_events                   |
| T6 | stateful running count per key    | running_count (applyInPandasWithState) |
| T7 | foreachBatch partitioned flush    | streaming/ingest.py            |
| T8 | stream-stream interval join       | attribution_join               |
| T10| gap+count-capped sessions         | capped_sessions (applyInPandasWithState, event-time timeout) |
| T11| streaming near-dup dedup at ingest| neardup_stream (foreachBatch + persistent LSH band index) |
| T12| streaming ANN index maintenance   | ivfpq_index_stream (frozen-quantizer encode-at-ingest) |
| T13| streaming quality scoring at ingest| deploy_stream + quality_scorer (frozen classifier) |
| T14| streaming DSIR selection at ingest | deploy_stream + dsir_scorer (frozen selection model) |
| T15| streaming exact dedup at ingest    | exactdedup_stream (persistent bucketed content-hash index) |
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("user_id", LongType(), False),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


def events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-stream over events-shaped parquet drops (S6). The driver's
    events.parquet carries TIMESTAMP(NANOS); test fixtures re-write it with
    µs timestamps so the stream schema is plain TimestampType."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)


def tumbling_counts(stream: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """T1+T4: per-(1-min window, event_type) counts with late-data drop.
    The watermark mirrors the reference's max_age flush bound (D17: 10 s)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_counts(stream: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """T2: sliding 5-minute window, 1-minute slide."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def exp_idx(value_col) -> "F.Column":
    """OTel exponential-histogram bucket index at scale 2 (base = 2^(2^-2):
    bucket i covers (base^i, base^(i+1)]; values <= 1.0 — and NULL — ride
    the zero bucket as sentinel idx -100000 so ascending order puts it
    first in both engines with no NULLS FIRST/LAST dependence: Spark's
    cumulative window orders NULLS FIRST, DuckDB's NULLS LAST, so a NULL
    bucket key would put the rank walk's threshold crossing at different
    buckets cross-engine). Shared by q08_exp_histogram_p95, the T16 batch
    twin and the T16 live lane — ONE definition of the bucket formula.

    NaN folds into the sentinel alongside NULL: a NaN measurement
    reaching the else branch would diverge cross-engine (Spark casts NaN
    to bigint 0 → bucket -1; DuckDB's CAST(NaN AS BIGINT) errors) —
    unreachable with the generated events.value but real OTel payloads
    can carry NaN gauge points."""
    v = value_col.cast("double")
    return F.when(
        value_col.isNull() | F.isnan(v) | (value_col <= 1.0), F.lit(-100000)
    ).otherwise(F.ceil(4 * F.log2(value_col)).cast("bigint") - 1)


def sgn_exp_idx(value_col) -> "F.Column":
    """SIGNED exponential-histogram bucket index at scale 2 — the full OTel
    data model (negative buckets hold measurements < -1, mirroring the
    positive formula on |v|). Encoding keeps the walk a single integer
    ORDER BY idx in value-ascending order: negative buckets ride
    idx = -200000 - m (m = magnitude bucket, larger m = more negative, so
    ascending idx walks most-negative first), the zero bucket keeps the
    -100000 sentinel (now covering NULL and |v| <= 1), positives keep
    their non-negative codes. All negative codes < -100000 < 0, so the
    zero bucket stays between signs with no NULLS FIRST/LAST dependence
    (the r9 cross-engine hazard, inherited by construction). NaN folds
    into the sentinel alongside NULL — same cross-engine divergence
    guard as exp_idx (Spark CAST(NaN) → 0, DuckDB errors)."""
    mag = (-value_col).cast("double")
    return (
        F.when(
            value_col.isNull()
            | F.isnan(value_col.cast("double"))
            | ((value_col <= 1.0) & (value_col >= -1.0)),
            F.lit(-100000),
        )
        .when(
            value_col < -1.0,
            F.lit(-200000) - (F.ceil(4 * F.log2(mag)).cast("bigint") - 1),
        )
        .otherwise(F.ceil(4 * F.log2(value_col)).cast("bigint") - 1)
    )


# the DuckDB twin of sgn_exp_idx
SQL_SGN_EXP_IDX = (
    "CASE WHEN {v} IS NULL OR isnan({v}) OR ({v} <= 1.0 AND {v} >= -1.0) THEN -100000 "
    "WHEN {v} < -1.0 THEN -200000 - (CAST(CEIL(4 * log2(-({v}))) AS BIGINT) - 1) "
    "ELSE CAST(CEIL(4 * log2({v})) AS BIGINT) - 1 END"
)

# bucket upper bound from the integer code, shared by the signed walk and
# its oracle: zero-bucket 1.0, positive 2^((i+1)/4), negative bucket m
# covers [-2^((m+1)/4), -2^(m/4)) so its upper bound is -2^(m/4)
SQL_EXP_BOUND = (
    "CASE WHEN {i} = -100000 THEN 1.0 "
    "WHEN {i} < -100000 THEN -ROUND(POWER(2.0, (-({i} + 200000)) / 4.0), 4) "
    "ELSE ROUND(POWER(2.0, ({i} + 1) / 4.0), 4) END"
)


def exp_hist_buckets(stream: DataFrame, watermark: str | None = "10 seconds") -> DataFrame:
    """T16 live half: per-(5-min tumbling window, event_type, bucket)
    counts with late-data drop. Bucket counts are a MERGEABLE sketch —
    the streaming state per (window, type) is |buckets| longs regardless
    of event volume, partial counts combine map-side in any order, and
    the percentile itself is deferred to the read side
    (exp_p95_from_buckets) because a rank walk needs the window's full
    bucket set, which only exists once the watermark seals it. This is
    the split every observability pipeline makes at scale: sketch
    maintenance in the stream, quantile extraction at query time.
    watermark=None skips the watermark — the batch-twin form, so the
    sketch definition exists exactly once."""
    src = stream if watermark is None else stream.withWatermark("ts", watermark)
    return (
        src.groupBy(
            F.window("ts", "5 minutes").alias("w"),
            "event_type",
            exp_idx(F.col("value")).alias("idx"),
        )
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "idx",
            "cnt",
        )
    )


def exp_p95_from_buckets(
    buckets: DataFrame,
    keys: tuple[str, ...] = ("window_start", "window_end", "event_type"),
) -> DataFrame:
    """The cumulative-rank walk from exp-histogram bucket counts (idx, cnt)
    to the p95 upper bound, per `keys` group — runs identically over a
    live-drained bucket table, the T16 batch twin's aggregate (that
    identity is the live==batch gate) and q08's global per-type form
    (keys=("event_type",)). Windows are over the bucket frame, never the
    event stream."""
    from pyspark.sql import Window as _W

    w_cum = _W.partitionBy(*keys).orderBy("idx")
    w_all = _W.partitionBy(*keys)
    cum = buckets.select(
        *keys,
        "idx",
        "cnt",
        F.sum("cnt").over(w_cum).alias("cum_cnt"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    bound = (
        F.when(F.col("idx") == -100000, F.lit(1.0))
        # signed lanes (sgn_exp_idx) encode negative buckets below the zero
        # sentinel; unsigned lanes never emit these codes, so this branch is
        # inert for q08/t16 (hashes unchanged) — SQL_EXP_BOUND is the twin
        .when(
            F.col("idx") < -100000,
            -F.round(F.pow(F.lit(2.0), (-(F.col("idx") + 200000)) / 4.0), 4),
        )
        .otherwise(F.round(F.pow(F.lit(2.0), (F.col("idx") + 1) / 4.0), 4))
    )
    return (
        cum.groupBy(*keys)
        .agg(
            F.max(
                F.when(F.col("idx") == -100000, F.col("cnt")).otherwise(F.lit(0))
            ).alias("zero_count"),
            F.max("total").alias("total"),
            F.min(
                F.when(20 * F.col("cum_cnt") >= 19 * F.col("total"), bound)
            ).alias("p95_upper_bound"),
        )
    )


def dedup_events(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """T5: exactly-once by event_id within the watermark horizon — state
    expires with the watermark, so memory is bounded by (horizon x rate),
    not by stream length."""
    return stream.withWatermark("ts", watermark).dropDuplicates(["event_id"])


_RUNNING_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("n_events", LongType(), False),
        StructField("total_value", DoubleType(), True),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("n", LongType(), False), StructField("total", DoubleType(), False)]
)


def running_count(stream: DataFrame) -> DataFrame:
    """T6: custom per-user running (count, sum) via applyInPandasWithState —
    the mapGroupsWithState twin of the reference's per-key BatchState
    accumulation (reference src/batch/mod.rs:143-165). Each micro-batch emits
    the updated totals for the users it touched; state lives in the
    checkpointed state store, partitioned by user_id."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_RUNNING_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    df: DataFrame, name: str, *, output_mode: str = "append", timeout: int = 120
) -> None:
    """Drain a closed stream into an in-memory table (test/ops harness)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)
    q.stop()


def attribution_join(stream: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """T8: stream-stream interval self-join — view->purchase attribution.

    The canonical hard case of Structured Streaming: BOTH sides are
    unbounded, so each must carry a watermark and the join condition must
    bound event time on both ends; Spark then sizes the join state buffer
    from (watermark + interval) and evicts rows whose match window has
    sealed. Inner joins emit in append mode only. Batch twin (oracle-
    matched): streaming/batch_twins.t8_stream_stream_join."""
    v = (
        stream.filter(F.col("event_type") == "view")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = v.join(
        p,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts "
            "AND p_ts <= v_ts + interval 10 minutes"
        ),
        "inner",
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        F.expr("(unix_micros(p_ts) - unix_micros(v_ts)) div 1000000").alias("delay_s"),
    )


def enrich_events(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """T9: stream-static join — unbounded events enriched with a bounded
    dimension (no watermark needed; the static side is re-planned each
    micro-batch, i.e. slowly-changing dims are picked up on refresh).
    Batch twin (oracle-matched): streaming/batch_twins.t9_stream_static_join."""
    d = dim.select(
        F.col("c_custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nation"),
    )
    return stream.join(F.broadcast(d), stream.user_id == d.c_custkey).select(
        "event_id", "user_id", "event_type", "segment", "nation"
    )


# --- T10: gap + count-capped sessionization (custom composite close rule) ---

CAPPED_SEG_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), False),
        StructField("seg_start", TimestampType(), False),
        StructField("seg_last", TimestampType(), False),
        StructField("seg_idx", LongType(), False),
        StructField("n_events", LongType(), False),
        # nullable: a segment whose every value is NULL sums to NULL,
        # exactly like the twin's SQL SUM
        StructField("seg_value", DoubleType(), True),
    ]
)

# open segment: (seg_start_us, last_ts_us, seg_idx, n, vsum_micro, n_val)
# vsum_micro accumulates 1e-6-quantized integer micro-units (each value
# quantized half-up like the engines' CAST(double AS DECIMAL(25,6))), so
# the segment sum is exact and the final 4-dp rounding matches the twin's
# DECIMAL ROUND half-up — binary-double accumulation + Python round()
# (half-even) diverged from the twin on .xxxx5 ties (round-6 review).
_CAPPED_STATE_SCHEMA = StructType(
    [
        StructField("seg_start_us", LongType(), False),
        StructField("last_ts_us", LongType(), False),
        StructField("seg_idx", LongType(), False),
        StructField("n", LongType(), False),
        StructField("vsum_micro", LongType(), False),
        StructField("n_val", LongType(), False),
    ]
)


def _micro(val) -> tuple[int, int]:
    """(micro_units, 1) for a non-null value, (0, 0) for NULL — per-element
    1e-6 quantization with HALF_UP on the exact binary expansion, mirroring
    both engines' double -> DECIMAL(25,6) cast."""
    import decimal

    if val is None or pd.isna(val):
        return 0, 0
    q = decimal.Decimal(float(val)).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
    )
    return int(q * 1_000_000), 1


def _micro_to_4dp(m: int):
    """Exact DECIMAL-style 4-dp rounding (half-up, away from zero) of an
    integer micro-unit sum — the same result as ROUND(DECIMAL, 4)."""
    q = (abs(m) + 50) // 100
    return (q if m >= 0 else -q) / 10000.0


# T10's close rule (idle gap, event budget); the batch twin
# batch_twins.t10_capped_session reads the same two constants
CAPPED_SESSION_GAP_US = 600 * 1_000_000
CAPPED_SESSION_MAX_EVENTS = 20


def capped_sessions(stream: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """T10: sessions close on idle gap (10 min) OR on a 20-event budget —
    the composite close rule the built-in session_window cannot express
    (it has no per-session row budget), so this is the genuinely-custom
    stateful path: applyInPandasWithState with event-time timeout.

    Emission contract (append mode): a segment row is emitted when the
    segment CLOSES — by cap, by an in-stream gap, or by event-time timeout
    once the watermark passes last_ts + gap. The oracle-matched batch twin
    over a closed input is t10_capped_session (batch_twins.py); the
    property suite replays micro-batched streams and asserts the closed
    segments match the twin row-for-row.

    Ordering contract: twin equivalence holds for in-order streams (the
    property suite's regime). A late-but-within-watermark event joins the
    currently-OPEN segment in arrival order — an append-mode operator
    cannot retract an already-emitted segment — and never moves the gap/
    timeout baseline backward (last_ts is clamped monotone).

    State is bounded by construction: ONE open segment (6 scalars) per live
    key, and the cap means at most 20 events ever accumulate into it — the
    operational reason metering sinks cap segments. At 100 TB state is
    hash-partitioned by user_id across the cluster's state stores."""

    def close_row(key: int, st: tuple) -> dict:
        start_us, last_us, seg_idx, n, vsum_micro, n_val = st
        return {
            "user_id": key,
            "seg_start": pd.Timestamp(start_us, unit="us"),
            "seg_last": pd.Timestamp(last_us, unit="us"),
            "seg_idx": int(seg_idx),
            "n_events": int(n),
            # all-NULL segment -> NULL, like the twin's SQL SUM
            "seg_value": _micro_to_4dp(vsum_micro) if n_val else None,
        }

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user = int(key[0])
        closed: list[dict] = []
        if state.hasTimedOut:
            if state.exists and state.get[3] > 0:  # anchors (n==0) expire silently
                closed.append(close_row(user, state.get))
            state.remove()
            if closed:
                yield pd.DataFrame(closed)
            return
        rows = []
        for pdf in pdfs:
            for ts, eid, val in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
                # null value: the twin's SUM skips it, but the event still
                # counts and moves the gap baseline
                m, k = _micro(val)
                rows.append((int(pd.Timestamp(ts).value // 1000), int(eid), m, k))
        rows.sort()
        # state encodes either an OPEN segment (n > 0) or, after a cap
        # close, a CONTINUATION ANCHOR (n == 0): the session is still alive
        # at last_ts_us and the next in-gap event starts seg_idx — so the
        # gap rule and the seg_idx chain survive the close. Either way the
        # state is 5 scalars.
        st = state.get if state.exists else None
        for ts_us, _eid, m, k in rows:
            if st is not None and ts_us - st[1] > CAPPED_SESSION_GAP_US:
                if st[3] > 0:
                    closed.append(close_row(user, st))
                st = None  # anchor beyond the gap expires silently
            if st is None:
                st = (ts_us, ts_us, 0, 1, m, k)
            elif st[3] == 0:
                # consume the continuation anchor; clamp last_ts here too —
                # a late-but-within-watermark row arriving right after a cap
                # close must not drag the gap/timeout baseline backward
                st = (ts_us, max(st[1], ts_us), st[2], 1, m, k)
            else:
                # late-but-within-watermark rows join the OPEN segment in
                # arrival order (append mode cannot retract a closed one);
                # clamp last_ts so a late row never moves the gap/timeout
                # baseline backward
                st = (st[0], max(st[1], ts_us), st[2], st[3] + 1, st[4] + m, st[5] + k)
            if st[3] >= CAPPED_SESSION_MAX_EVENTS:
                closed.append(close_row(user, st))
                st = (st[1], st[1], st[2] + 1, 0, 0, 0)
        if st is None:
            if state.exists:
                state.remove()
        else:
            state.update(st)
            # flush (or expire the anchor) once event time passes last + gap
            state.setTimeoutTimestamp((st[1] + CAPPED_SESSION_GAP_US) // 1000)
        if closed:
            yield pd.DataFrame(closed)

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=CAPPED_SEG_SCHEMA,
            stateStructType=_CAPPED_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# T11: streaming near-dup dedup at ingest (live x2_minhash_firstseen)
# ---------------------------------------------------------------------------

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)

# --- band-index bucketing ---------------------------------------------------
# Every band-index epoch is laid out as epoch=E/bucket=B/… with
# B = pmod(xxhash64(band, bsig), nb) and a per-epoch `_NB` sidecar recording
# nb (a power of two dividing _BAND_MAXNB). The per-micro-batch history probe
# then reads ONLY the buckets its batch's band keys hash to, instead of the
# whole corpus-sized index: because nb | _BAND_MAXNB, a batch's coarse bucket
# ids (hash % _BAND_MAXNB, at most _BAND_MAXNB distinct values — a bounded
# driver collect) fold onto any epoch's buckets as coarse % nb. Compaction
# re-buckets the consolidated epoch at ~BAND_ROWS_PER_BUCKET rows per bucket,
# so probe bytes stay ~(matched buckets x constant) as the index grows —
# the flat-probe property measured in BASELINE.md (r8).

_BAND_MAXNB = 4096
BAND_ROWS_PER_BUCKET = 100_000


def _require_local_state(path: str, what: str) -> None:
    """The T11/T12 persistent-state machinery (epoch-dir listing, _NB/marker
    sidecars, publish-by-rename) uses POSIX file APIs. Before r8 the T11
    history read went through Spark's Hadoop FS layer, so an s3a:// state
    dir half-worked; the bucketed layout would instead silently find NO
    history (os.listdir of a URI string sees nothing) and unflag every
    cross-batch duplicate — far worse than failing. Refuse any URI-schemed
    path loudly (round-8 review). The object-store deployment routes these
    ops through the Hadoop FileSystem API (and needs an atomic-rename
    store for the publish step), the same documented bound as
    otel/compact.py's swap."""
    if "://" in path:
        raise NotImplementedError(
            f"{what} keeps epoch-partitioned state with POSIX file APIs and "
            f"supports local paths only; got {path!r}. Mount the store or "
            "port the listing/rename steps to the Hadoop FileSystem API "
            "for object-store state."
        )


def _nb_for_rows(rows: int, rows_per_bucket: int = BAND_ROWS_PER_BUCKET) -> int:
    """Power-of-two bucket count targeting ~rows_per_bucket rows per bucket,
    clamped to [1, _BAND_MAXNB] so nb always divides _BAND_MAXNB."""
    nb = 1
    while nb < _BAND_MAXNB and rows > nb * rows_per_bucket:
        nb *= 2
    return nb


def _band_bucket(nb: int):
    return F.pmod(F.xxhash64(F.col("band"), F.col("bsig")), F.lit(nb))


def _hash_bucket(nb: int):
    """Bucket expression for the T15 exact-dedup content-hash index —
    the _band_bucket discipline keyed on the single hash column."""
    return F.pmod(F.xxhash64(F.col("h")), F.lit(nb))


def _epochs(table_dir: str) -> list[int]:
    """Sorted epoch ids of an epoch-partitioned table dir ([] if absent)."""
    import os

    if not os.path.isdir(table_dir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("epoch=")
    )


def _epoch_nb(epoch_dir: str) -> int | None:
    """Bucket count of an epoch partition. None => treat the dir as
    unbucketed and read it whole — for the legacy (pre-r8) flat layout AND
    for a torn/unparsable sidecar (a crash mid-sidecar-write must degrade
    to the safe over-read, never crash the probe or skip history).

    Validity requires a POWER OF TWO in [1, _BAND_MAXNB]: every writer
    produces exactly that, and the check is what catches the dangerous
    tear class — a torn '4096' read back as '4' IS a valid integer, and
    trusting it would make the probe read the wrong buckets and silently
    skip history (round-8 review). Non-power-of-two survivors of a tear
    ('409', '40') fail the check and over-read instead. The sidecar is
    also written atomically (_write_band_epoch: tmp + rename), so this is
    defense in depth."""
    import os

    nb_path = os.path.join(epoch_dir, "_NB")
    if not os.path.isfile(nb_path):
        return None
    try:
        with open(nb_path) as f:
            nb = int(f.read().strip())
    except (ValueError, OSError):
        return None
    if 1 <= nb <= _BAND_MAXNB and (nb & (nb - 1)) == 0:
        return nb
    return None


def _write_band_epoch(df: DataFrame, epoch_dir: str, nb: int, bucket_expr=None) -> None:
    """Bucketed epoch write + the `_NB` sidecar (underscore-prefixed, so
    Spark partition discovery over the whole bands dir ignores it). The
    sidecar is committed by atomic rename — a plain open/write can tear
    ('4096' -> '4'), and a torn-but-integer value is the one corruption
    _epoch_nb's power-of-two check alone might not catch. bucket_expr
    picks the index's key hash (default: the T11 band bucket; T15 passes
    the content-hash bucket)."""
    import os

    (
        df.withColumn("bucket", (bucket_expr or _band_bucket)(nb))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(epoch_dir)
    )
    tmp = os.path.join(epoch_dir, "._NB.tmp")
    with open(tmp, "w") as f:
        f.write(str(nb))
    os.rename(tmp, os.path.join(epoch_dir, "_NB"))


def history_probe_paths(
    bands_dir: str, before_epoch: int, coarse_buckets: list[int]
) -> list[str]:
    """The band-index paths a probe for the given batch must read: for each
    epoch < before_epoch, only the bucket dirs the batch's coarse bucket ids
    (hash % _BAND_MAXNB) fold onto under that epoch's nb. Exposed (and kept
    pure) so tests and the probe-cost bench can measure exactly what the
    probe reads — the pruning IS the scale property."""
    import os

    paths: list[str] = []
    for e in _epochs(bands_dir):
        if e >= before_epoch:
            continue
        ed = os.path.join(bands_dir, f"epoch={e}")
        nb = _epoch_nb(ed)
        if nb is None:
            # legacy flat epoch OR torn sidecar: the safe over-read. A
            # bucketed dir read whole must be read by its LEAF dirs (mixing
            # a bucket=-partitioned path with flat paths in one
            # read.parquet call trips partition discovery)
            paths.extend(_epoch_leaves(ed))
            continue
        for b in sorted({v % nb for v in coarse_buckets}):
            p = os.path.join(ed, f"bucket={b}")
            if os.path.isdir(p):
                paths.append(p)
    return paths


def _epoch_leaves(epoch_dir: str) -> list[str]:
    """The data paths of an epoch dir read WHOLE: its bucket= subdirs when
    bucketed, else the dir itself (legacy flat layout)."""
    import os

    buckets = [
        os.path.join(epoch_dir, d)
        for d in os.listdir(epoch_dir)
        if d.startswith("bucket=")
    ]
    return buckets or [epoch_dir]


def _drain(
    spark: SparkSession,
    schema: StructType,
    landing_dir: str,
    checkpoint_dir: str,
    flush,
    max_files_per_trigger: int = 1,
):
    """Start the stream every foreachBatch lane here runs: a parquet file
    source over landing_dir (max_files_per_trigger files per micro-batch),
    each micro-batch handed to flush(batch_df, epoch_id) via foreachBatch,
    progress kept in checkpoint_dir, drained once with availableNow.
    Every lane's flush writes per-epoch directory OVERWRITES keyed by the
    epoch id, so a micro-batch replayed after a crash (foreachBatch is
    at-least-once) rewrites exactly its own partitions: exactly-once at
    the file level, the discipline of stream_ingest's run_tag=epoch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(landing_dir)
        .writeStream.foreachBatch(flush)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def make_neardup_flush(
    spark: SparkSession,
    state_dir: str,
    rows_per_bucket: int = BAND_ROWS_PER_BUCKET,
):
    """The foreachBatch body of neardup_stream, exposed so tests can drive
    it with explicit (batch, epoch_id) pairs — including REPLAYING an epoch,
    which is how the per-epoch-overwrite idempotence contract is proven
    (tests/test_streaming_neardup.py::test_neardup_flush_replay_idempotent,
    the same pattern as tests/test_writer_idempotence.py for the sinks).

    rows_per_bucket sizes the per-epoch bucket count (tests force it tiny to
    exercise multi-bucket epochs on small fixtures)."""
    import os

    _require_local_state(state_dir, "make_neardup_flush")
    bands_dir = os.path.join(state_dir, "bands")
    flags_dir = os.path.join(state_dir, "flags")

    def flush(batch_df: DataFrame, epoch_id: int) -> None:
        docs = batch_df.select("doc_id", "text").persist()
        try:
            band_probe_update(
                spark, bands_dir, epoch_id, docs, rows_per_bucket
            ).write.mode("overwrite").parquet(
                os.path.join(flags_dir, f"epoch={int(epoch_id)}")
            )
        finally:
            docs.unpersist()

    return flush


def neardup_stream(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    rows_per_bucket: int = BAND_ROWS_PER_BUCKET,
):
    """Streaming first-seen MinHash-LSH dedup: the live form of batch
    x2_minhash_firstseen (extensions/dedup.py) — every arriving document is
    flagged is_neardup when ANY of its LSH bands was already emitted by an
    earlier document, across ALL previous micro-batches and runs.

    State is a parquet band index under {state_dir}/bands, epoch-partitioned;
    per-doc verdicts land under {state_dir}/flags, epoch-partitioned. Both
    writes are per-epoch directory overwrites (see _drain). The history
    read filters epoch < current so a replayed batch never sees its OWN
    half-written bands as history (which would flag first-seen docs against
    themselves).

    Equivalence contract (proven in tests/test_streaming_neardup.py): when
    documents arrive in doc_id order, the union of all flag partitions —
    across any micro-batch slicing, stop/restart cycle, or crash-replay —
    equals the batch operator's output on the union of the inputs. "Earlier"
    means arrival order, which the batch twin models as doc_id order.

    Scale shape per micro-batch: the signature kernel is the batch op's
    (one tokenize pass, md5 double-hash family, map-side partial MINs); the
    history probe is a left-semi join of the batch's ~4 skinny band rows
    per doc against ONLY the index buckets those bands hash to (epoch dirs
    are partitioned by bucket = xxhash64(band, bsig) % nb, see
    history_probe_paths) — probe bytes are ~(batch band keys x
    rows_per_bucket-sized buckets), independent of total index size once
    compaction re-buckets (measured flat in BASELINE.md r8; before r8 the
    probe scanned the whole corpus-sized index every micro-batch). Epochs
    compact like any streaming lake table (compact_band_index)."""
    return _drain(
        spark,
        DOCS_SCHEMA,
        landing_dir,
        checkpoint_dir,
        make_neardup_flush(spark, state_dir, rows_per_bucket=rows_per_bucket),
        max_files_per_trigger,
    )


def compact_band_index(
    spark: SparkSession,
    state_dir: str,
    rows_per_bucket: int = BAND_ROWS_PER_BUCKET,
) -> int:
    """Compact neardup_stream's epoch-partitioned band index: merge all
    epochs STRICTLY BELOW the newest into one consolidated partition,
    keeping MIN(first_id) per (band, bsig) — the steady low-volume ingest
    otherwise accretes one small parquet dir per micro-batch, the same
    small-file tax otel/compact.py pays down for the event sink. The
    consolidated epoch is re-bucketed at ~rows_per_bucket rows per bucket
    (see _write_band_epoch), which is what keeps probe bytes per micro-batch
    ~flat as the index grows: bucket size stays constant, only the bucket
    COUNT grows with the corpus.

    Replay-safety of the epoch choice: foreachBatch can only replay the
    LAST processed epoch (earlier ones are committed the moment their
    successor ran), and a replayed epoch E reads history as epoch < E.
    The consolidated partition lands at a fresh NEGATIVE epoch (one below
    the current minimum; Spark epoch ids are >= 0, so no collision ever),
    which every present and future probe orders below all real epochs: a
    replay of max still sees exactly the pre-compaction history, and every
    future epoch sees everything. Returns the number of epoch partitions
    removed (net).

    Crash contract (publish-before-delete): the merged partition is written
    to an underscore-prefixed temp dir (invisible to readers), atomically
    renamed into place as the fresh epoch, and ONLY THEN are the stale
    epoch dirs removed. A crash before the rename leaves inert debris
    (cleaned on the next run) with every input epoch intact; a crash after
    it leaves duplicated band rows — harmless for presence/MIN semantics
    and converged by re-running. No window loses history (round-7 review:
    the previous delete-then-rename order could drop the merged epochs on
    a crash between the two)."""
    return _compact_epoch_index(
        spark,
        state_dir,
        "bands",
        ("band", "bsig"),
        _band_bucket,
        rows_per_bucket,
        "compact_band_index",
        "band int, bsig string, first_id long",
    )


def _compact_epoch_index(
    spark: SparkSession,
    state_dir: str,
    subdir: str,
    key_cols: tuple[str, ...],
    bucket_expr,
    rows_per_bucket: int,
    what: str,
    schema: str,
) -> int:
    """Shared epoch-index compactor (T11 bands / T15 hashes): merge all
    epochs strictly below the newest into one MIN(first_id)-per-key
    consolidated partition at a fresh negative epoch, publish-by-rename
    BEFORE deleting inputs. See compact_band_index's docstring for the
    replay-safety and crash contracts — they are properties of this core."""
    import os
    import shutil

    _require_local_state(state_dir, what)
    index_dir = os.path.join(state_dir, subdir)
    tmp = os.path.join(index_dir, "_compact_tmp")
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)  # pre-publish crash debris; inputs are intact
    epochs = _epochs(index_dir)
    if not epochs:
        return 0  # no index yet (e.g. an empty landing dir never flushed)
    old = [e for e in epochs if e < epochs[-1]]
    if len(old) < 2:
        return 0  # nothing worth merging
    leaves: list[str] = []
    for e in old:
        # leaf enumeration handles bucketed, legacy-flat AND torn-sidecar
        # epochs uniformly (see _epoch_leaves)
        leaves.extend(_epoch_leaves(os.path.join(index_dir, f"epoch={e}")))
    merged = (
        # explicit schema: a rowless epoch leaf (_SUCCESS-only bucket dir)
        # must merge as empty, not crash schema inference (r11 ADVICE class)
        spark.read.schema(schema)
        .parquet(*leaves)
        .groupBy(*key_cols)
        .agg(F.min("first_id").alias("first_id"))
        .persist()
    )
    try:
        nb = _nb_for_rows(merged.count(), rows_per_bucket)
        _write_band_epoch(merged, tmp, nb, bucket_expr=bucket_expr)
    finally:
        merged.unpersist()
    target = min(0, epochs[0]) - 1  # fresh, always below every live epoch
    os.rename(tmp, os.path.join(index_dir, f"epoch={target}"))  # publish
    for e in old:
        shutil.rmtree(os.path.join(index_dir, f"epoch={e}"))
    return len(old) - 1


# ---------------------------------------------------------------------------
# T12: streaming ANN index maintenance (live IVFPQ encode-at-ingest)
# ---------------------------------------------------------------------------

EMBED_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("embedding", ArrayType(FloatType()), True),
        StructField("label", IntegerType(), True),
    ]
)


def ivfpq_index_stream(
    spark: SparkSession,
    landing_dir: str,
    index_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Live IVFPQ index maintenance: the production ANN ingest loop — train
    the coarse centroids + residual codebooks ONCE on the first arriving
    batch (the frozen-quantizer pattern every deployed IVF system uses:
    FAISS trains on a sample, then add() only encodes), then every
    micro-batch encodes its vectors against the frozen artifacts and
    appends 4-byte codes, epoch-partitioned. Searches run against the
    growing codes table via similarity.ivfpq_search at any time.

    Equivalence contract (tests/test_streaming_annindex.py): the streamed
    codes table is bit-identical to similarity.ivfpq_encode over the union
    of the inputs with the same artifacts — across any micro-batch slicing
    and across stop/restart — because both run _ivfpq_residual_subs.

    Crash/replay: the artifact bootstrap commits via a marker file written
    AFTER both artifact tables — a crash mid-write (or between the two
    writes) leaves no marker, so the replayed first epoch retrains (mode
    overwrite clears any partials; training is deterministic from the same
    batch, so the artifacts come out identical). Gating on a directory's
    existence instead was the round-7 review finding: the codebook dir
    appears before the centroids land, so that window skipped training
    with half-written artifacts. Code writes are per-epoch directory
    overwrites, the same file-level exactly-once discipline as
    neardup_stream."""
    import os

    from otlp2parquet_spark.extensions.similarity import (
        ivfpq_build,
        ivfpq_encode,
    )

    _require_local_state(index_path, "ivfpq_index_stream")
    cb_dir = os.path.join(index_path, "codebook")
    cent_dir = os.path.join(index_path, "centroids")
    codes_dir = os.path.join(index_path, "codes")
    ready_marker = os.path.join(index_path, "_ARTIFACTS_READY")

    def flush(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.persist()
        try:
            if not os.path.isfile(ready_marker):
                _, cb, cents = ivfpq_build(batch)
                cb.write.mode("overwrite").parquet(cb_dir)
                cents.write.mode("overwrite").parquet(cent_dir)
                with open(ready_marker, "w") as f:
                    f.write("ok")  # commit point: both artifacts complete
            # explicit schemas (shared constants with ivfpq_read_index): a
            # torn artifact dir must not crash the encoder via inference
            from otlp2parquet_spark.extensions.similarity import (
                IVFPQ_CENTROIDS_SCHEMA,
                IVFPQ_CODEBOOK_SCHEMA,
            )

            cents = spark.read.schema(IVFPQ_CENTROIDS_SCHEMA).parquet(cent_dir)
            cb = spark.read.schema(IVFPQ_CODEBOOK_SCHEMA).parquet(cb_dir)
            ivfpq_encode(batch, cents, cb).write.mode("overwrite").parquet(
                os.path.join(codes_dir, f"epoch={int(epoch_id)}")
            )
        finally:
            batch.unpersist()

    return _drain(
        spark, EMBED_SCHEMA, landing_dir, checkpoint_dir, flush, max_files_per_trigger
    )


def first_epoch_rows(
    df: DataFrame, key_cols: tuple[str, ...], epoch_col: str = "epoch"
) -> DataFrame:
    """Deterministic cross-epoch key resolution for epoch-partitioned
    verdict/score tables: keep each key's row from its SMALLEST epoch and
    drop the epoch column. A plain dropDuplicates(key_cols) keeps an
    ARBITRARY row, which is wrong twice over (r11 ADVICE): (a) the same
    doc re-delivered in a later landing file gets a second verdict row
    with DIFFERENT flags (the exact stage marks the replayed copy a
    duplicate), so summary counts become nondeterministic; (b) even for
    the benign crash-window copies (publish-before-cleanup leaves full
    duplicates) determinism is free. Min epoch is the semantically right
    winner: the FIRST delivery's verdict is the doc's ledger verdict —
    exactly the first-seen contract the dedup stages themselves enforce.
    Compacted (negative) epochs sort below all live ones, so a previously
    merged verdict keeps winning over any later re-delivery. Within one
    epoch a key has exactly one row (per-batch writes emit one verdict
    per doc; replays overwrite the whole epoch dir), so the ordering is
    total."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col(epoch_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", epoch_col)
    )


def compact_epochs(
    spark: SparkSession,
    table_dir: str,
    key_cols: tuple[str, ...] = ("doc_id",),
    sort_cols: tuple[str, ...] = ("doc_id",),
) -> int:
    """Epoch consolidation for APPEND-ONLY epoch-partitioned tables (each
    row belongs to exactly one epoch): merge all epochs STRICTLY BELOW the
    newest into one partition, DEDUPLICATED on key_cols and sorted within
    partitions by sort_cols for row-group locality. The defaults fit every
    per-doc verdict/score table the lanes write (neardup and exact-dedup
    flags, deploy_stream verdicts, budget verdicts, the funnel ledger).

    The dedup is what makes the crash contract actually converge (round-8
    review): a crash between the publish rename and the stale-dir removal
    leaves every merged row duplicated, and a plain union on the next run
    would bake those duplicates in forever. Cross-epoch duplicates resolve
    DETERMINISTICALLY to the smallest-epoch row (first_epoch_rows, r11
    ADVICE): crash-window copies are full duplicates either way, but a doc
    RE-DELIVERED in a later landing file carries a different verdict in
    its second epoch, and an arbitrary-winner dedup would bake a
    nondeterministic ledger in at compaction time. Until the next
    compaction runs, readers may see transient duplicates (the same
    window compact_table documents).

    Replay-safety is compact_band_index's, verbatim: only epochs < max
    merge (a replayed newest epoch overwrites exactly its own dir); the
    merged partition publishes by atomic rename to a fresh NEGATIVE epoch
    BEFORE the stale dirs are removed, so no window loses rows and
    pre-publish debris is cleaned on the next run. Returns the net number
    of epoch partitions removed."""
    import os
    import shutil

    _require_local_state(table_dir, "compact_epochs")
    tmp = os.path.join(table_dir, "_compact_tmp")
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)  # pre-publish crash debris; inputs are intact
    epochs = _epochs(table_dir)
    if not epochs:
        return 0
    old = [e for e in epochs if e < epochs[-1]]
    if len(old) < 2:
        return 0
    srcs = [os.path.join(table_dir, f"epoch={e}") for e in old]
    import glob as _glob

    if not any(_glob.glob(os.path.join(s, "*.parquet")) for s in srcs):
        # every old epoch is ROWLESS (an empty DataFrame persists as
        # _SUCCESS only — e.g. a T17 drain that ingested zero tokens):
        # there is nothing to merge and schema inference would raise, so
        # removing the empty dirs IS the consolidation
        for s in srcs:
            shutil.rmtree(s)
        return len(old)
    (
        # basePath keeps the epoch partition column visible so the merge
        # can pick each key's FIRST verdict instead of an arbitrary row
        first_epoch_rows(
            spark.read.option("basePath", table_dir).parquet(*srcs),
            key_cols,
        )
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    target = min(0, epochs[0]) - 1
    os.rename(tmp, os.path.join(table_dir, f"epoch={target}"))  # publish
    for e in old:
        shutil.rmtree(os.path.join(table_dir, f"epoch={e}"))
    return len(old) - 1


def compact_codes_index(spark: SparkSession, index_path: str) -> int:
    """Compact ivfpq_index_stream's epoch-partitioned codes table — the
    steady encode-at-ingest loop otherwise accretes one small parquet dir
    per micro-batch, the same small-file tax compact_band_index pays down
    for the T11 lane. Codes are append-only per-vector rows (each vec_id
    is encoded by exactly one epoch); rows sort by (cluster_id, m) so
    probed-cell reads cluster into few row groups. Contract:
    compact_epochs."""
    import os

    return compact_epochs(
        spark,
        os.path.join(index_path, "codes"),
        key_cols=("vec_id", "m"),
        sort_cols=("cluster_id", "m"),
    )


# ---------------------------------------------------------------------------
# Frozen-artifact deploy lanes: T13 quality scoring, T14 DSIR selection,
# T18 LM perplexity and T20 benchmark decontamination at ingest
# ---------------------------------------------------------------------------


def deploy_stream(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    score,
    max_files_per_trigger: int = 1,
):
    """Deploy a trained artifact to the ingest path: every arriving
    documents micro-batch is scored by score(batch_df) -> DataFrame, and
    its per-doc verdicts land per-epoch under out_dir/epoch=N. `score`
    closes over a FROZEN artifact read once at setup — quality_scorer,
    dsir_scorer, lm_scorer or decontam_scorer — so this is the
    train-offline / score-at-ingest loop a production pipeline runs.

    Equivalence contract (tests/test_streaming_{quality,dsir,lmscore,
    decontam}.py): each kernel is a pure function of (doc, frozen
    artifact) in exact integer or DECIMAL arithmetic, so the union of all
    epoch partitions is BIT-IDENTICAL to the batch kernel over the union
    of the inputs, across any micro-batch slicing and any stop/restart.
    Writes are per-epoch directory overwrites (see _drain); epochs compact
    with compact_epochs(spark, out_dir).

    Scale shape per micro-batch: one tokenize pass over the batch, a
    batch-sized aggregation and a broadcast join against the artifact —
    no state beyond the frozen artifact, no corpus-sized anything."""
    import os

    _require_local_state(out_dir, "deploy_stream")

    def flush(batch_df: DataFrame, epoch_id: int) -> None:
        score(batch_df).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"epoch={int(epoch_id)}")
        )

    return _drain(
        spark, DOCS_SCHEMA, landing_dir, checkpoint_dir, flush, max_files_per_trigger
    )


def quality_scorer(spark: SparkSession, model_path: str):
    """T13: (doc_id, y, z, pred) verdicts — exact integer dot products
    against the weight vector persisted by text.qc_write_model (the
    x4_quality_classifier artifact, T12's frozen-quantizer pattern)."""
    from otlp2parquet_spark.extensions.text import qc_read_model, qc_score

    w = qc_read_model(spark, model_path)
    return lambda batch: qc_score(batch.select("doc_id", "text"), w)


def dsir_scorer(spark: SparkSession, model_path: str):
    """T14: (doc_id, liw_micro, n_tok, keep) verdicts against the (bk,
    lr_i) table + threshold persisted by pipeline.dsir_write_model — the
    selection-at-ingest loop of continued pretraining. dsir_score with a
    model built from a corpus reproduces registry op x6_dsir_sample's
    (liw_micro, keep) on it. The <= B+1 row table is collected to the
    driver and recreated as a local relation: no executor-storage persist
    leaks across repeated stream starts in one session."""
    from otlp2parquet_spark.extensions.pipeline import dsir_read_model, dsir_score

    persisted, th = dsir_read_model(spark, model_path)
    model = spark.createDataFrame(
        [(int(r.bk), int(r.lr_i)) for r in persisted.collect()],
        "bk long, lr_i long",
    )
    return lambda batch: dsir_score(batch.select("doc_id", "text"), model, th)


def lm_scorer(spark: SparkSession, artifact_dir: str):
    """T18, the CCNet deploy loop: (doc_id, source, n_bigrams, lm_score)
    against the add-one bigram counts persisted by text.lm_write_model. A
    doc's bigrams never straddle batches and the per-doc sum runs in
    DECIMAL; lm_read_model measures the join route once here, never per
    batch. With the artifact trained on the even-doc_id half, the verdict
    union equals the t18_lm_score_frozen batch twin row for row."""
    from otlp2parquet_spark.extensions.text import lm_read_model, lm_score_frozen

    model, prefix, vocab, n_model, n_prefix = lm_read_model(spark, artifact_dir)
    return lambda batch: lm_score_frozen(
        batch.select("doc_id", "text", "source"),
        model, prefix, vocab, n_model, n_prefix,
    )


def decontam_scorer(spark: SparkSession, benchset_dir: str):
    """T20: (doc_id, n_grams, n_hits, contamination, contaminated)
    verdicts — exact trigram overlap counts against the benchmark set
    persisted by pipeline.decontam_write_benchset, the filter a training
    pipeline runs before data enters the corpus. The set is
    benchmark-bounded by construction, so its broadcast join is cheap."""
    from otlp2parquet_spark.extensions.pipeline import (
        decontam_read_benchset,
        decontam_score,
    )

    bench = decontam_read_benchset(spark, benchset_dir)
    return lambda batch: decontam_score(batch.select("doc_id", "text"), bench)


# ---------------------------------------------------------------------------
# T15: streaming EXACT dedup at ingest (live first-seen content hash — r9)
# ---------------------------------------------------------------------------


def exact_probe_update(
    spark: SparkSession,
    hashes_dir: str,
    epoch_id: int,
    hashed: DataFrame,
    rows_per_bucket: int = BAND_ROWS_PER_BUCKET,
) -> DataFrame:
    """Shared T15 stage kernel — the ONE exact-dedup probe/update both the
    standalone lane (make_exactdedup_flush) and the composed funnel
    (make_ingest_funnel_flush) run, so their semantics cannot drift (the
    minhash_fs_bands/qc_score discipline applied to the stage itself;
    r11 review finding). Probes ONLY the history buckets this batch's
    hashes fold onto, accretes the batch's (h, first_id) rows into the
    epoch index, and returns per-doc (doc_id, h, keeper).

    NULL-safe: a NULL-text doc hashes to a NULL key; the intra-batch
    window and the index groupBy both group NULLs, and the history probe
    joins with eqNullSafe — a plain equi-join would silently declare
    every NULL-text doc first-seen (NULL never equi-matches), diverging
    from the batch twin's window semantics across micro-batches."""
    import os

    from pyspark.sql import Window

    coarse = [
        r[0]
        for r in hashed.select(_hash_bucket(_BAND_MAXNB).alias("cb"))
        .distinct()
        .collect()
    ]
    hist_paths = history_probe_paths(hashes_dir, int(epoch_id), coarse)
    w = Window.partitionBy("h")
    out = hashed.withColumn("first_intra", F.min("doc_id").over(w))
    if hist_paths:
        # explicit schema: a degenerate epoch (zero data rows under a
        # bucket dir, e.g. a crashed writer that committed only _SUCCESS)
        # makes schema INFERENCE raise and crash the probe — the same
        # rowless-parquet class lm_read_model fixed with explicit schemas
        hist = (
            spark.read.schema("h string, first_id long")
            .parquet(*hist_paths)
            .groupBy("h")
            .agg(F.min("first_id").alias("first_hist"))
            .withColumnRenamed("h", "h_hist")
        )
        out = out.join(
            hist, F.col("h").eqNullSafe(F.col("h_hist")), "left"
        ).drop("h_hist")
    else:
        out = out.withColumn("first_hist", F.lit(None).cast("long"))
    agg = hashed.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    nb = _nb_for_rows(hashed.count(), rows_per_bucket)
    _write_band_epoch(
        agg,
        os.path.join(hashes_dir, f"epoch={int(epoch_id)}"),
        nb,
        bucket_expr=_hash_bucket,
    )
    # least skips NULLs: keeper = smallest doc_id that ever emitted h
    return out.withColumn("keeper", F.least("first_hist", "first_intra"))


def band_probe_update(
    spark: SparkSession,
    bands_dir: str,
    epoch_id: int,
    docs: DataFrame,
    rows_per_bucket: int = BAND_ROWS_PER_BUCKET,
) -> DataFrame:
    """Shared T11 stage kernel — the ONE LSH probe/update both the
    standalone lane (make_neardup_flush) and the composed funnel run
    (r11 review finding, as exact_probe_update). Computes the batch's
    band rows, flags each doc against batch-local first-seen AND the
    persistent band index (bucket-pruned probe), accretes the batch's
    (band, bsig, first_id) rows into the epoch index, and returns per-doc
    (doc_id, is_neardup). `docs` (doc_id, text) should be persisted by
    the caller (two consumers: band kernel + count)."""
    import os

    from pyspark.sql import Window

    from otlp2parquet_spark.extensions.dedup import LSH_BANDS, minhash_fs_bands

    bands = minhash_fs_bands(docs).persist()
    try:
        coarse = [
            r[0]
            for r in bands.select(_band_bucket(_BAND_MAXNB).alias("cb"))
            .distinct()
            .collect()
        ]
        hist_paths = history_probe_paths(bands_dir, int(epoch_id), coarse)
        w = Window.partitionBy("band", "bsig")
        per_doc = (
            bands.withColumn("first_id", F.min("doc_id").over(w))
            .groupBy("doc_id")
            .agg(F.max(F.col("doc_id") > F.col("first_id")).alias("hit_intra"))
        )
        out = docs.select("doc_id").join(per_doc, "doc_id", "left")
        if hist_paths:
            # explicit schema — same degenerate-epoch rationale as the
            # exact_probe_update history read above
            hist_hits = (
                bands.join(
                    spark.read.schema("band int, bsig string, first_id long")
                    .parquet(*hist_paths)
                    .select("band", "bsig"),
                    ["band", "bsig"],
                    "left_semi",
                )
                .select("doc_id")
                .distinct()
                .withColumn("hit_hist", F.lit(True))
            )
            out = out.join(hist_hits, "doc_id", "left")
        else:
            out = out.withColumn("hit_hist", F.lit(False))
        agg = bands.groupBy("band", "bsig").agg(F.min("doc_id").alias("first_id"))
        nb = _nb_for_rows(LSH_BANDS * docs.count(), rows_per_bucket)
        _write_band_epoch(
            agg, os.path.join(bands_dir, f"epoch={int(epoch_id)}"), nb
        )
        return out.select(
            "doc_id",
            (
                F.coalesce("hit_intra", F.lit(False))
                | F.coalesce("hit_hist", F.lit(False))
            ).alias("is_neardup"),
        )
    finally:
        bands.unpersist()


def make_exactdedup_flush(
    spark: SparkSession,
    state_dir: str,
    rows_per_bucket: int = BAND_ROWS_PER_BUCKET,
):
    """The foreachBatch body of exactdedup_stream, exposed so tests can
    drive it with explicit (batch, epoch_id) pairs — including replays
    (the per-epoch-overwrite idempotence contract, same as T11's).

    Per batch: sha-256 every doc; probe ONLY the history buckets the
    batch's hashes fold onto (history_probe_paths — the T11 pruning,
    keyed on xxhash64(h)); a duplicate's keeper is the SMALLEST doc_id
    that ever emitted the hash — min over the history index and the
    batch's own first-seen window. Verdicts
    (doc_id, content_hash, is_duplicate, dup_of) land per-epoch under
    {state_dir}/flags; the (h, first_id) index accretes per-epoch under
    {state_dir}/hashes, bucketed + `_NB`-sidecar'd like the band index."""
    import os

    _require_local_state(state_dir, "make_exactdedup_flush")
    hashes_dir = os.path.join(state_dir, "hashes")
    flags_dir = os.path.join(state_dir, "flags")

    def flush(batch_df: DataFrame, epoch_id: int) -> None:
        hashed = batch_df.select(
            "doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("h")
        ).persist()
        try:
            out = exact_probe_update(
                spark, hashes_dir, epoch_id, hashed, rows_per_bucket
            )
            keeper = F.col("keeper")
            (
                out.select(
                    "doc_id",
                    F.col("h").alias("content_hash"),
                    (keeper < F.col("doc_id")).alias("is_duplicate"),
                    F.when(keeper < F.col("doc_id"), keeper).alias("dup_of"),
                ).write.mode("overwrite")
                .parquet(os.path.join(flags_dir, f"epoch={int(epoch_id)}"))
            )
        finally:
            hashed.unpersist()

    return flush


def exactdedup_stream(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    rows_per_bucket: int = BAND_ROWS_PER_BUCKET,
):
    """Streaming first-seen EXACT dedup: the live form of batch
    x1_exact_dedup/x1_incremental_dedup (extensions/dedup.py) — every
    arriving document is flagged is_duplicate when its content hash was
    already emitted by an earlier document, across all previous
    micro-batches and runs, with dup_of = the keeper (smallest emitting
    doc_id). The T11 lane catches NEAR-duplicates via LSH bands; this one
    is the exact tier a production ingest runs FIRST (cheapest filter,
    zero false positives), against the same epoch-partitioned, bucketed,
    compactable index machinery.

    Equivalence contract (tests/test_streaming_exactdedup.py): when
    documents arrive in doc_id order, the union of all flag partitions —
    across any micro-batch slicing, stop/restart cycle, or crash-replay —
    equals first-seen exact dedup over the union of the inputs (keeper =
    MIN doc_id per hash). Writes are per-epoch directory overwrites
    (file-level exactly-once); the history read filters epoch < current so
    a replayed batch never sees its own half-written index as history.

    Scale shape per micro-batch: one sha-256 pass (JVM-side, codegen), a
    batch-local first-seen window, and a left join against ONLY the index
    buckets the batch's hashes fold onto (xxhash64(h) % nb dirs via
    history_probe_paths) — probe bytes ~(batch hash count x
    rows_per_bucket-sized buckets), independent of total index size once
    compaction re-buckets (the measured-flat T11 property; the index and
    probe layouts are the same code paths). Epochs compact via
    compact_hash_index."""
    return _drain(
        spark,
        DOCS_SCHEMA,
        landing_dir,
        checkpoint_dir,
        make_exactdedup_flush(spark, state_dir, rows_per_bucket=rows_per_bucket),
        max_files_per_trigger,
    )


def compact_hash_index(
    spark: SparkSession,
    state_dir: str,
    rows_per_bucket: int = BAND_ROWS_PER_BUCKET,
) -> int:
    """Compact exactdedup_stream's epoch-partitioned content-hash index —
    MIN(first_id) per hash, re-bucketed at ~rows_per_bucket rows per
    bucket. Same replay-safety and publish-before-delete crash contracts
    as compact_band_index (shared core: _compact_epoch_index)."""
    return _compact_epoch_index(
        spark,
        state_dir,
        "hashes",
        ("h",),
        _hash_bucket,
        rows_per_bucket,
        "compact_hash_index",
        "h string, first_id long",
    )


# ---------------------------------------------------------------------------
# T17: streaming heavy hitters at ingest (r10) — Misra-Gries candidate
# summaries maintained per micro-batch, exact extraction at read time
# ---------------------------------------------------------------------------


def make_heavyhitters_flush(spark: SparkSession, state_dir: str):
    """The foreachBatch body of heavyhitters_stream, exposed so tests can
    drive it with explicit (batch, epoch_id) pairs (the T15 replay gate).

    Per batch: run the SAME per-partition Misra-Gries sketch the batch op
    uses (text.hh_partition_summaries — MG summaries are mergeable, so one
    summary per epoch composes by union) and persist two tiny epoch
    partitions: the batch's candidate tokens under {state_dir}/cands
    (<= K x partitions rows) and the batch's exact token count under
    {state_dir}/totals (ONE row, keyed by src_epoch so epoch merges and
    crash-replay dedups stay exact). Coverage across epochs is two-level
    averaging: a global heavy hitter is heavy in some epoch, hence heavy
    in some partition of that epoch, hence emitted — so the epoch-union
    candidate set is a guaranteed superset of the global heavies, and the
    read side (heavy_hitters_from_state) can defer the EXACT recount to
    one candidate-bounded pass. Writes are per-epoch directory overwrites
    (file-level exactly-once, the T15 contract)."""
    import os

    from otlp2parquet_spark.extensions.text import (
        hh_partition_summaries,
        hh_token_stream,
    )

    _require_local_state(state_dir, "make_heavyhitters_flush")
    cands_dir = os.path.join(state_dir, "cands")
    totals_dir = os.path.join(state_dir, "totals")

    def flush(batch_df: DataFrame, epoch_id: int) -> None:
        part = hh_partition_summaries(hh_token_stream(batch_df)).persist()
        try:
            (
                part.filter(F.col("t").isNotNull())
                .select("t")
                .distinct()
                .write.mode("overwrite")
                .parquet(os.path.join(cands_dir, f"epoch={int(epoch_id)}"))
            )
            n = part.filter(F.col("t").isNull()).agg(F.sum("cnt")).first()[0]
            spark.createDataFrame(
                [(int(epoch_id), int(n or 0))], "src_epoch long, n long"
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(totals_dir, f"epoch={int(epoch_id)}")
            )
        finally:
            part.unpersist()

    return flush


def heavyhitters_stream(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """Streaming heavy-hitter candidate maintenance: the live form of
    x4_heavy_hitters' pass 1 (extensions/text.py). Every arriving
    documents micro-batch folds into a per-epoch Misra-Gries summary; the
    expensive candidate DISCOVERY amortizes into ingest, so read time is
    one map-only candidate-bounded recount instead of two corpus passes.

    Equivalence contract (tests/test_streaming_heavyhitters.py): for any
    micro-batch slicing, stop/restart cycle, crash-replay, or state
    compaction, heavy_hitters_from_state over (state, union of inputs)
    equals the batch x4_heavy_hitters result over the union — row for
    row, count for count (the extraction is exact arithmetic; only the
    candidate superset varies with slicing, exactly as the batch op's
    varies with partitioning).

    Scale shape per micro-batch: one map-only sketch pass (O(K + batch
    vocab) worker memory), <= K x partitions candidate rows + ONE total
    row written per epoch — state growth is epochs x K-bounded, never
    vocab-bounded, and compact_hh_state collapses history to the distinct
    candidate union."""
    return _drain(
        spark,
        DOCS_SCHEMA,
        landing_dir,
        checkpoint_dir,
        make_heavyhitters_flush(spark, state_dir),
        max_files_per_trigger,
    )


def heavy_hitters_from_state(
    spark: SparkSession, state_dir: str, docs: DataFrame
) -> DataFrame:
    """EXACT heavy hitters over `docs` (the union of everything the stream
    ingested) using the ingest-maintained candidate state: union the
    per-epoch candidate summaries, total N = sum of per-epoch token counts
    (exact: each epoch counted its own tokens once; replay overwrites, and
    the totals dedup on src_epoch survives compaction's crash window), and
    ONE candidate-bounded recount pass — tok JOIN broadcast(cands), a
    map-side-combined groupBy whose shuffled bytes are candidate-bounded,
    then the same integer test cnt*(K+1) > N as the batch op. Same output
    schema and ordering as x4_heavy_hitters."""
    import os

    from otlp2parquet_spark.extensions.text import _HH_K, hh_token_stream

    _require_local_state(state_dir, "heavy_hitters_from_state")
    # explicit schemas: a drain that ingested zero tokens writes candidate
    # epochs with no part files (an empty DataFrame persists as _SUCCESS
    # only), and schema inference over all-empty dirs raises instead of
    # returning the correct empty frame
    cands = (
        spark.read.schema("t string")
        .parquet(os.path.join(state_dir, "cands"))
        .select("t")
        .distinct()
    )
    total = (
        spark.read.schema("src_epoch long, n long")
        .parquet(os.path.join(state_dir, "totals"))
        .dropDuplicates(["src_epoch"])
        .agg(F.sum("n").alias("n"))
    )
    tok = hh_token_stream(docs)
    return (
        tok.join(F.broadcast(cands), "t")
        .groupBy("t")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * (_HH_K + 1) > F.col("n"))
        .select(F.col("t").alias("token"), "cnt")
        .orderBy(F.desc("cnt"), "token")
    )


def compact_hh_state(spark: SparkSession, state_dir: str) -> tuple[int, int]:
    """Compact the T17 state: candidate epochs merge to their distinct
    union (key t — duplicate candidates across epochs are full copies, so
    the union-table dedup contract applies and history SHRINKS to the
    distinct candidate set); totals merge keyed by src_epoch (each row is
    one epoch's exact token count — dedup on src_epoch makes the crash
    window converge without ever double-counting N). Returns (candidate
    epochs removed, total epochs removed)."""
    import os

    c = compact_epochs(
        spark, os.path.join(state_dir, "cands"), key_cols=("t",), sort_cols=("t",)
    )
    t = compact_epochs(
        spark,
        os.path.join(state_dir, "totals"),
        key_cols=("src_epoch",),
        sort_cols=("src_epoch",),
    )
    return c, t


# ---------------------------------------------------------------------------
# T19: windowed deterministic-HLL distinct counts (r10) — the cardinality
# sibling of T16: register maintenance in the stream, estimation at read.
# Unlike approx_count_distinct (HLL++, engine-private registers — a8 is
# rows-only for that reason), these registers derive from md5 (the
# x2_minhash_firstseen replayable-hash discipline) and the estimator's
# register sum is EXACT INTEGER arithmetic, so the whole op is DuckDB
# hash-matchable end to end.
# ---------------------------------------------------------------------------

HLL_M = 256  # registers; standard HLL rsd = 1.04/sqrt(m) ~ 6.5%
# alpha_256 computed as ONE PYTHON DOUBLE and injected with F.lit: an
# F.expr("0.7213 / ...") form parses the literals as DECIMAL(p,s) in Spark
# (0.7182725959317630) while DuckDB evaluates the same text in DOUBLE
# (0.7182725932495458) — a 3.7e-9 divergence that flips ~2.4% of raw-branch
# 4-dp quantizations and, near e_raw = 640, the branch itself (r10 review
# finding; invisible at fixture cardinality, where every window takes the
# linear-count branch). The Python double below equals DuckDB's evaluation
# bit-for-bit (same IEEE ops in the same order).
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / 256.0)


def hll_reg_buckets(stream: DataFrame, watermark: str | None = "10 seconds") -> DataFrame:
    """T19 live half: per-(5-min tumbling window, event_type, register)
    MAX(rho) over the user_id stream. Register state is a MERGEABLE sketch
    in the strongest sense — MAX is commutative, associative AND
    idempotent, so partials combine map-side in any order and replays
    cannot corrupt a register. The register index and rho derive from md5
    so both engines (and the batch twin) replay them bit-for-bit:
    idx = first md5 byte, w = the next 52 hex bits, rho = 53 - bitlen(w)
    (bitlen via integer base-2 string length — no float log2, whose
    correctly-rounded boundary at 2^k - 1 flips floors). watermark=None is
    the batch-twin form, the exp_hist_buckets convention."""
    h = F.md5(F.col("user_id").cast("string").cast("binary"))
    w = F.conv(F.substring(h, 3, 13), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.conv(w, 10, 2))
    )
    src = stream if watermark is None else stream.withWatermark("ts", watermark)
    # NULL users are NOT a distinct user: md5(NULL) would ride as a NULL
    # register row, inflating p by a phantom register (countDistinct — the
    # semantics the estimate is gated against — ignores NULLs); the oracle
    # mirrors the filter (the t16 null-fold precedent)
    src = src.filter(F.col("user_id").isNotNull())
    return (
        src.groupBy(
            F.window("ts", "5 minutes").alias("wd"),
            "event_type",
            F.conv(F.substring(h, 1, 2), 16, 10).cast("long").alias("reg"),
        )
        .agg(F.max(rho).alias("rho"))
        .select(
            F.col("wd.start").alias("window_start"),
            F.col("wd.end").alias("window_end"),
            "event_type",
            "reg",
            "rho",
        )
    )


def hll_estimate_from_registers(
    registers: DataFrame,
    keys: tuple[str, ...] = ("window_start", "window_end", "event_type"),
) -> DataFrame:
    """The HLL estimate from (reg, rho) register rows, per `keys` group —
    runs identically over a live-drained register table and the batch
    twin's aggregate. Exactness discipline: the indicator sum
    sum_j 2^-rho_j is computed as the INTEGER S = sum_j 2^(53-rho_j)
    (every term <= 2^53 exact, total < 2^61) with absent registers
    contributing V * 2^53, so the only floats are one division of exact
    integers and (in the small-range branch) ln of an exact rational —
    both cross-engine identical (the DSIR ln-parity precedent). Replays /
    epoch overlaps are absorbed by a register-MAX pre-merge."""
    merged = registers.groupBy(*keys, "reg").agg(F.max("rho").alias("rho"))
    per = merged.groupBy(*keys).agg(
        F.sum(F.pow(F.lit(2.0), F.lit(53) - F.col("rho")).cast("long")).alias("s_present"),
        F.count("*").alias("p"),
    )
    v = F.lit(HLL_M) - F.col("p")
    s = F.col("s_present") + v * F.lit(1 << 53)
    e_raw = (
        F.lit(_HLL_ALPHA)
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(1 << 53))
        / F.col("s").cast("double")
    )
    e = F.when(
        (e_raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(e_raw)
    return per.withColumn("s", s).select(
        *keys, (F.floor(e * 10000.0 + 0.5) / 10000.0).alias("n_approx")
    )


# ---------------------------------------------------------------------------
# T21: the composed production ingest funnel — T15 -> T11 -> T13 -> T20 as
# ONE streaming pass (r10 verdict ask #6). The four lanes each prove
# live==batch in isolation; production runs them as one funnel over one
# landing dir, so this lane is the capstone proof that they COMPOSE: per
# micro-batch, exact dedup probes/updates the persistent hash index, LSH
# probes/updates the persistent band index with the exact SURVIVORS' bands,
# and the two frozen artifacts score the remaining survivors — with the
# composed verdict union equal to extensions.pipeline.ingest_funnel_batch
# over the union of the inputs, across any slicing/restart/replay/compaction.
# ---------------------------------------------------------------------------


def make_ingest_funnel_flush(
    spark: SparkSession,
    state_dir: str,
    w: list[int] | None,
    bench: DataFrame,
    rows_per_bucket: int = BAND_ROWS_PER_BUCKET,
):
    """The foreachBatch body of ingest_funnel_stream, exposed so tests can
    drive it with explicit (batch, epoch_id) pairs including replays.

    State layout composes the standalone lanes' layouts verbatim so their
    compaction functions apply unchanged: {state_dir}/hashes is the T15
    (h, first_id) bucketed index, {state_dir}/bands the T11 (band, bsig,
    first_id) bucketed index, {state_dir}/verdicts the per-epoch
    (doc_id, source, k1..k4) ledger. All three writes are per-epoch
    directory overwrites; both history reads filter epoch < current — the
    shared replay-idempotence contract.

    Stages 1 and 2 ARE the standalone lanes' kernels (exact_probe_update /
    band_probe_update — one function each, r11 review finding): a fix to a
    standalone probe applies to the composed funnel by construction, never
    by parallel edit.

    w=None runs the quality stage keep-all (k3 = k2) — the live form of
    the t21_funnel_skeleton batch twin, mirroring ingest_funnel_batch's
    w=None contract (r12)."""
    import os

    from otlp2parquet_spark.extensions.pipeline import decontam_score
    from otlp2parquet_spark.extensions.text import qc_score

    _require_local_state(state_dir, "make_ingest_funnel_flush")
    hashes_dir = os.path.join(state_dir, "hashes")
    bands_dir = os.path.join(state_dir, "bands")
    verdicts_dir = os.path.join(state_dir, "verdicts")

    def flush(batch_df: DataFrame, epoch_id: int) -> None:
        docs = batch_df.select("doc_id", "source", "text").persist()
        try:
            # --- stage 1: exact dedup (the shared T15 kernel; the index
            # accretes ALL batch docs' hashes, the T15 contract) ----------
            hashed = docs.select(
                "doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("h")
            ).persist()
            k1f = None  # unpersisted in the finally below even on mid-stage failure
            try:
                probed = exact_probe_update(
                    spark, hashes_dir, epoch_id, hashed, rows_per_bucket
                )
                k1f = probed.select(
                    "doc_id", (~(F.col("keeper") < F.col("doc_id"))).alias("k1")
                ).persist()

                # --- stage 2: LSH near-dup over k1 survivors (the shared
                # T11 kernel; the band index accretes the k1 SURVIVORS'
                # bands only — the batch funnel computes bands over them) --
                surv1 = (
                    docs.join(k1f, "doc_id").filter("k1").select("doc_id", "text")
                ).persist()
                try:
                    ndf = band_probe_update(
                        spark, bands_dir, epoch_id, surv1, rows_per_bucket
                    )

                    # --- stages 3+4: frozen-artifact scores over the
                    # shrinking survivor sets (T13, T20 kernels) -----------
                    f2 = (
                        docs.join(k1f, "doc_id")
                        .join(ndf, "doc_id", "left")
                        .withColumn(
                            "k2",
                            F.col("k1")
                            & ~F.coalesce("is_neardup", F.lit(False)),
                        )
                    ).persist()
                    try:
                        if w is None:  # skeleton mode: quality keep-all
                            f3 = f2.withColumn("k3", F.col("k2"))
                        else:
                            q = qc_score(
                                f2.filter("k2").select("doc_id", "text"), w
                            ).select("doc_id", F.col("pred").alias("q_pred"))
                            f3 = f2.join(q, "doc_id", "left").withColumn(
                                "k3",
                                F.col("k2")
                                & (F.coalesce("q_pred", F.lit(0)) == 1),
                            )
                        dec = decontam_score(
                            f3.filter("k3").select("doc_id", "text"), bench
                        ).select("doc_id", "contaminated")
                        (
                            f3.join(dec, "doc_id", "left")
                            .withColumn(
                                "k4",
                                F.col("k3")
                                & ~F.coalesce("contaminated", F.lit(False)),
                            )
                            .select("doc_id", "source", "k1", "k2", "k3", "k4")
                            .write.mode("overwrite")
                            .parquet(
                                os.path.join(
                                    verdicts_dir, f"epoch={int(epoch_id)}"
                                )
                            )
                        )
                    finally:
                        f2.unpersist()
                finally:
                    surv1.unpersist()
            finally:
                if k1f is not None:
                    k1f.unpersist()
                hashed.unpersist()
        finally:
            docs.unpersist()

    return flush


def ingest_funnel_stream(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    qc_model_path: str | None,
    benchset_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    rows_per_bucket: int = BAND_ROWS_PER_BUCKET,
):
    """The composed production ingest pipeline as ONE streaming lane: every
    arriving documents micro-batch flows exact-dedup -> LSH near-dup ->
    frozen quality classifier -> frozen benchmark decontamination, against
    the same persistent indexes and artifacts the standalone T15/T11/T13/
    T20 lanes maintain — one landing dir in, one (doc_id, source, k1..k4)
    verdict ledger out.

    Equivalence contract (tests/test_streaming_funnel.py): when documents
    arrive in doc_id order, the union of all verdict partitions — across
    any micro-batch slicing, stop/restart cycle, crash replay or index
    compaction — equals extensions.pipeline.ingest_funnel_batch over the
    union of the inputs with the same frozen artifacts. The classifier and
    benchset scores are exact integer kernels, so the equality is
    bit-level, not approximate.

    Scale shape per micro-batch: the four stage kernels ARE the standalone
    lanes' (see their docstrings for the per-stage probe-bytes bounds);
    composition adds only doc_id-co-partitioned re-attaches between
    stages, each over a strictly shrinking survivor set — the funnel order
    (cheapest filter first) is what a production pipeline runs for cost,
    not just correctness. Frozen artifacts are read ONCE at stream setup,
    never per batch."""
    from otlp2parquet_spark.extensions.pipeline import decontam_read_benchset
    from otlp2parquet_spark.extensions.text import qc_read_model

    _require_local_state(state_dir, "ingest_funnel_stream")
    # qc_model_path=None runs the quality stage keep-all (the live
    # t21_funnel_skeleton form; see make_ingest_funnel_flush)
    w = None if qc_model_path is None else qc_read_model(spark, qc_model_path)
    bench = decontam_read_benchset(spark, benchset_dir)
    return _drain(
        spark,
        DOCS_SCHEMA,
        landing_dir,
        checkpoint_dir,
        make_ingest_funnel_flush(
            spark, state_dir, w, bench, rows_per_bucket=rows_per_bucket
        ),
        max_files_per_trigger,
    )


def compact_ingest_funnel(
    spark: SparkSession,
    state_dir: str,
    rows_per_bucket: int = BAND_ROWS_PER_BUCKET,
) -> tuple[int, int, int]:
    """Compact all three funnel state tables — the standalone lanes'
    compaction functions apply verbatim because the layouts are shared:
    hash index (T15 contract), band index (T11 contract), verdict ledger
    (union-epochs contract). Returns (hash_epochs, band_epochs,
    verdict_epochs) removed."""
    import os

    _require_local_state(state_dir, "compact_ingest_funnel")
    n_h = compact_hash_index(spark, state_dir, rows_per_bucket=rows_per_bucket)
    n_b = compact_band_index(spark, state_dir, rows_per_bucket=rows_per_bucket)
    n_v = compact_epochs(spark, os.path.join(state_dir, "verdicts"))
    return n_h, n_b, n_v


# ---------------------------------------------------------------------------
# T22: streaming token-budget ADMISSION (r12)
# ---------------------------------------------------------------------------


def make_budget_admit_flush(spark: SparkSession, state_dir: str, budget: int):
    """The foreachBatch body of budget_admit_stream, exposed so tests can
    drive it with explicit (batch, epoch_id) pairs including replays.

    Cross-batch state is ONE number: the token total of every prior epoch,
    persisted as a one-row totals table per epoch ({state_dir}/totals/
    epoch=N) so the offset for epoch e derives from epochs < e only —
    replaying an epoch overwrites exactly its own verdicts AND totals row,
    which is what makes the admission verdicts replay-idempotent (the
    T11/T15 per-epoch-overwrite contract with a scalar instead of an
    index).

    INPUT CONTRACT: the stream must be doc-unique — admission charges the
    budget per ARRIVAL, so a doc RE-DELIVERED in a later landing file
    (not a crash replay, which overwrites its own epoch) would consume
    budget twice while the doc_id-keyed summary ledger counts it once,
    and downstream docs would be rejected early. Production composes the
    T15 exact-dedup lane (or the T21 funnel's stage 1) UPSTREAM of
    admission, which is exactly what makes the stream doc-unique; this
    lane deliberately does not duplicate that index (r12 review
    finding — stated contract, not silent assumption). Within a batch the inclusive running sum is a single window in
    arrival (doc_id) order — micro-batches are bounded by
    maxFilesPerTrigger, so the single-partition window is batch-sized, not
    corpus-sized; the batch twin (t22_budget_admit) shows the
    distributed-prefix-sum form of the same cumsum for the unbounded batch
    case. Verdicts: (doc_id, n_tok, admitted) per epoch under
    {state_dir}/verdicts."""
    import os

    from pyspark.sql import Window

    from otlp2parquet_spark.extensions.dedup import token_count_expr

    _require_local_state(state_dir, "make_budget_admit_flush")
    verdicts_dir = os.path.join(state_dir, "verdicts")
    totals_dir = os.path.join(state_dir, "totals")

    def flush(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        offset = 0
        if _epochs(totals_dir):
            # explicit schema: a zero-doc drain writes a rowless epoch
            row = (
                spark.read.schema("batch_toks long, epoch int")
                .parquet(totals_dir)
                .filter(F.col("epoch") < e)
                .agg(F.coalesce(F.sum("batch_toks"), F.lit(0)))
                .first()
            )
            offset = int(row[0])
        base = batch_df.select(
            "doc_id",
            F.coalesce(token_count_expr(F.col("text")), F.lit(0))
            .cast("long")
            .alias("n_tok"),
        ).persist()
        try:
            w = Window.orderBy("doc_id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            (
                base.withColumn("run", F.sum("n_tok").over(w))
                .select(
                    "doc_id",
                    "n_tok",
                    ((F.lit(offset) + F.col("run")) <= F.lit(int(budget))).alias(
                        "admitted"
                    ),
                )
                .write.mode("overwrite")
                .parquet(os.path.join(verdicts_dir, f"epoch={e}"))
            )
            batch_toks = base.agg(
                F.coalesce(F.sum("n_tok"), F.lit(0)).alias("t")
            ).first()[0]
            spark.createDataFrame(
                [(int(batch_toks),)], "batch_toks long"
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(totals_dir, f"epoch={e}")
            )
        finally:
            base.unpersist()

    return flush


def budget_admit_stream(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    budget: int,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
):
    """ARRIVAL-ordered token-budget admission at ingest (T22): admit every
    arriving doc while the global inclusive token count fits `budget`,
    then reject everything after — the hard cutoff a collection pipeline
    applies ("stop at 10B tokens"). The admitted set is a prefix of the
    arrival order, so live == batch needs only the one-number cross-batch
    state make_budget_admit_flush persists.

    Equivalence contract (tests/test_streaming_budget.py): when docs
    arrive in doc_id order, the union of verdict epochs is BIT-IDENTICAL
    to the t22_budget_admit batch twin run with the same budget over the
    union of the inputs, across slicings, restarts and replays — all
    quantities are exact integers."""
    _require_local_state(state_dir, "budget_admit_stream")
    return _drain(
        spark,
        DOCS_SCHEMA,
        landing_dir,
        checkpoint_dir,
        make_budget_admit_flush(spark, state_dir, budget),
        max_files_per_trigger,
    )


# ---------------------------------------------------------------------------
# T23: streaming bounded-state uniform sample (r12)
# ---------------------------------------------------------------------------

SAMPLE_K = 64  # also the batch twin's (batch_twins.t23_stream_sample) LIMIT


def make_sample_flush(spark: SparkSession, state_dir: str, k: int = SAMPLE_K):
    """The foreachBatch body of sample_stream: maintain the exact
    "k smallest (md5(doc_id), doc_id)" sample of everything seen so far.

    SNAPSHOT state, not an accretive index: each epoch dir under
    {state_dir}/sample holds the COMPLETE k-row sample as of that epoch —
    epoch e is derived by merging the newest epoch < e with the batch and
    keeping the k smallest, so every epoch supersedes all before it.
    Replay of epoch e re-reads the same predecessor and overwrites exactly
    epoch e (idempotent); compaction (compact_sample_state) just deletes
    superseded epochs — no merge, the newest IS the state. The merge is
    associative AND idempotent (min-k of a union), so any batch slicing
    yields the identical final sample — the live==batch gate in
    tests/test_streaming_sample.py."""
    import os

    _require_local_state(state_dir, "make_sample_flush")
    sample_dir = os.path.join(state_dir, "sample")

    def flush(batch_df: DataFrame, epoch_id: int) -> None:
        e = int(epoch_id)
        cand = batch_df.select(
            "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hv")
        )
        prior = [p for p in _epochs(sample_dir) if p < e]
        if prior:
            prev = spark.read.schema("doc_id long, hv string").parquet(
                os.path.join(sample_dir, f"epoch={prior[-1]}")
            )
            cand = cand.unionByName(prev)
        (
            cand.orderBy("hv", "doc_id")
            .limit(int(k))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(sample_dir, f"epoch={e}"))
        )

    return flush


def sample_stream(
    spark: SparkSession,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    k: int = SAMPLE_K,
    max_files_per_trigger: int = 1,
):
    """Deterministic uniform corpus sample maintained AT INGEST (T23): at
    every epoch, {state_dir}/sample/epoch=N holds exactly the k docs with
    the smallest content-addressed keys among everything ingested — the
    always-fresh eval-holdout/inspection sample a training pipeline wants
    without ever re-scanning the corpus. Bit-equal to the t23_stream_sample
    batch twin over the union of the inputs (the hash order is a pure
    function of the docs), state is k rows regardless of corpus size."""
    _require_local_state(state_dir, "sample_stream")
    return _drain(
        spark,
        DOCS_SCHEMA,
        landing_dir,
        checkpoint_dir,
        make_sample_flush(spark, state_dir, k),
        max_files_per_trigger,
    )


def compact_sample_state(spark: SparkSession, state_dir: str) -> int:
    """Delete superseded sample epochs (everything below the newest): each
    epoch is a complete snapshot, so compaction is pure deletion — no
    merge, no crash window beyond losing already-superseded dirs."""
    import os
    import shutil

    _require_local_state(state_dir, "compact_sample_state")
    sample_dir = os.path.join(state_dir, "sample")
    epochs = _epochs(sample_dir)
    for e in epochs[:-1]:
        shutil.rmtree(os.path.join(sample_dir, f"epoch={e}"))
    return max(0, len(epochs) - 1)
