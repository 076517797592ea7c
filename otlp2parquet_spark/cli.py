"""CLI entry point (reference src/main.rs:33-130 twin, Spark-flavored).

Subcommands (``--help`` lists them all):
- ``ingest``  — batch ingest a landing dir for one signal into the
  partitioned layout (the reference's serve+POST dataflow, batch-mode);
- ``stream``  — continuous Structured-Streaming ingest with checkpointing;
- ``serve``, ``compact``, ``zorder``, ``connect`` (client config templates,
  D29) and ``validate-config`` (load + validate the layered config, print it);
- the ``*train`` commands, which build the frozen artifacts the deploy
  lanes score against;
- the stream-lane commands (neardup, xdedup, hh, annindex, badmit,
  dsirselect, dcscore, lmscore, qscore, funnel, wp95, whll), which come
  from the lane table ``_LANES``: drain the landing dir once
  (availableNow), optionally compact, print a one-line JSON summary.

Global flags mirror the reference: ``--config FILE``, ``--output DIR``,
``--log-level LEVEL`` (reference --port applies to the out-of-engine HTTP
receiver and is accepted for parity).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections.abc import Callable
from typing import NamedTuple


def _positive_int(s: str) -> int:
    v = int(s)
    if v < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {v}")
    return v


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="otlp2parquet-spark")
    p.add_argument("--config", metavar="FILE", help="TOML config file")
    p.add_argument("--output", metavar="DIR", help="output root (fs backend only)")
    p.add_argument("--port", type=int, help="receiver port (parity flag)")
    p.add_argument("-v", "--log-level", metavar="LEVEL", help="log level")
    sub = p.add_subparsers(dest="command")

    ing = sub.add_parser("ingest", help="batch-ingest a landing directory")
    ing.add_argument("landing_dir")
    ing.add_argument("signal", choices=["logs", "traces", "metrics"])
    ing.add_argument(
        "--quarantine",
        metavar="DIR",
        help="land invalid payloads (+ typed-reason sidecars) here and "
        "continue, instead of failing the job (D25)",
    )

    st = sub.add_parser("stream", help="streaming ingest with checkpoints")
    st.add_argument("landing_dir")
    st.add_argument("signal", choices=["logs", "traces", "metrics"])
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--trigger-seconds", type=float, default=5.0)
    st.add_argument("--available-now", action="store_true")
    st.add_argument("--quarantine", metavar="DIR", help="as in ingest --quarantine")

    con = sub.add_parser("connect", help="emit client config templates")
    con.add_argument("service")
    con.add_argument("--url", default=None)

    srv = sub.add_parser("serve", help="run the out-of-engine HTTP receiver (D1)")
    srv.add_argument("landing_root")
    srv.add_argument("--host", default="0.0.0.0")

    cp = sub.add_parser(
        "compact", help="merge small flush files per partition (parity layout)"
    )
    cp.add_argument("table", help="e.g. otel_logs")
    cp.add_argument("--min-files", type=int, default=2)
    cp.add_argument(
        "--quiesced-sec",
        type=float,
        default=120.0,
        help="refuse when any data file is younger than this (active-writer "
        "guard for the non-atomic swap); --force disables",
    )
    cp.add_argument(
        "--force",
        action="store_true",
        help="compact even if a writer looks active on the root",
    )

    nd = sub.add_parser(
        "neardup",
        help="streaming near-dup dedup over a documents landing dir (T11): "
        "drain available files, flag each doc against the persistent LSH "
        "band index, append per-epoch verdicts under STATE/flags",
    )
    nd.add_argument("landing_dir", help="dir of documents-schema parquet files")
    nd.add_argument("--state", required=True, help="band index + flags root")
    nd.add_argument("--checkpoint", required=True)
    nd.add_argument(
        "--compact-index",
        action="store_true",
        help="merge committed band-index AND flags epochs after the drain "
        "(replay-safe: only epochs below the newest)",
    )

    xd = sub.add_parser(
        "xdedup",
        help="streaming EXACT dedup over a documents landing dir (T15): "
        "drain available files, flag each doc against the persistent "
        "content-hash index, append per-epoch verdicts under STATE/flags",
    )
    xd.add_argument("landing_dir", help="dir of documents-schema parquet files")
    xd.add_argument("--state", required=True, help="hash index + flags root")
    xd.add_argument("--checkpoint", required=True)
    xd.add_argument(
        "--compact-index",
        action="store_true",
        help="merge committed hash-index AND flags epochs after the drain",
    )

    hhp = sub.add_parser(
        "hh",
        help="streaming heavy-hitter maintenance (T17): drain a documents "
        "landing dir, fold each micro-batch into a per-epoch Misra-Gries "
        "candidate summary under STATE, then extract the EXACT heavy "
        "hitters over everything ingested (one candidate-bounded recount)",
    )
    hhp.add_argument("landing_dir", help="dir of documents-schema parquet files")
    hhp.add_argument("--state", required=True, help="candidate summary root")
    hhp.add_argument("--checkpoint", required=True)
    hhp.add_argument(
        "--compact-state",
        action="store_true",
        help="merge committed candidate/total epochs after the drain",
    )
    hhp.add_argument("--top", type=int, default=10, help="rows to print")

    ann = sub.add_parser(
        "annindex",
        help="streaming ANN index maintenance (T12): train IVFPQ artifacts "
        "on the first batch, encode every arriving embedding batch against "
        "the frozen quantizer, append per-epoch codes under INDEX/codes",
    )
    ann.add_argument("landing_dir", help="dir of embeddings-schema parquet files")
    ann.add_argument("--index", required=True, help="artifact + codes root")
    ann.add_argument("--checkpoint", required=True)
    ann.add_argument(
        "--compact-codes",
        action="store_true",
        help="merge committed codes epochs after the drain "
        "(replay-safe: only epochs below the newest)",
    )

    dt = sub.add_parser(
        "dsirtrain",
        help="train the DSIR selection model (hashed-unigram importance "
        "log-ratios + frozen keep threshold) on a documents-schema parquet "
        "dir and persist the artifact",
    )
    dt.add_argument("corpus_dir", help="documents-schema parquet table")
    dt.add_argument("--model", required=True, help="model artifact destination")

    ds = sub.add_parser(
        "dsirselect",
        help="streaming DSIR selection (T14): drain available files, score "
        "each doc map-only against the frozen selection model, append "
        "per-epoch keep/drop verdicts under OUT",
    )
    ds.add_argument("landing_dir", help="dir of documents-schema parquet files")
    ds.add_argument("--model", required=True, help="dsirtrain artifact")
    ds.add_argument("--out", required=True, help="verdicts root")
    ds.add_argument("--checkpoint", required=True)
    ds.add_argument(
        "--compact",
        action="store_true",
        help="merge committed verdict epochs after the drain",
    )

    ba = sub.add_parser(
        "badmit",
        help="streaming token-budget admission (T22): drain available "
        "files, admit docs in arrival order while the global token count "
        "fits --budget, append per-epoch verdicts under STATE/verdicts. "
        "Input must be doc-unique (run xdedup upstream): budget is "
        "charged per arrival",
    )
    ba.add_argument("landing_dir", help="dir of documents-schema parquet files")
    ba.add_argument("--state", required=True, help="verdicts + totals root")
    ba.add_argument("--budget", required=True, type=_positive_int, help="token budget")
    ba.add_argument("--checkpoint", required=True)
    ba.add_argument(
        "--compact",
        action="store_true",
        help="merge committed verdict epochs after the drain",
    )

    qt = sub.add_parser(
        "qtrain",
        help="train the linear quality classifier (IPM perceptron) on a "
        "documents-schema parquet dir and persist the weight artifact",
    )
    qt.add_argument("corpus_dir", help="documents-schema parquet table")
    qt.add_argument("--model", required=True, help="weight artifact destination")
    qt.add_argument(
        "--rounds", type=_positive_int, default=None, help="IPM rounds (>= 1)"
    )

    qsc = sub.add_parser(
        "qscore",
        help="streaming quality scoring (T13): drain available files, score "
        "each doc map-only against the frozen persisted classifier, append "
        "per-epoch verdicts under OUT",
    )
    qsc.add_argument("landing_dir", help="dir of documents-schema parquet files")
    qsc.add_argument("--model", required=True, help="qtrain weight artifact")
    qsc.add_argument("--out", required=True, help="verdicts root")
    qsc.add_argument("--checkpoint", required=True)
    qsc.add_argument(
        "--compact",
        action="store_true",
        help="merge committed verdict epochs after the drain",
    )

    dct = sub.add_parser(
        "dctrain",
        help="extract a benchmark's distinct trigram set from a "
        "documents-schema parquet dir and persist it (the T20 artifact)",
    )
    dct.add_argument("bench_dir", help="benchmark documents parquet table")
    dct.add_argument("--benchset", required=True, help="gram-set destination")

    dcs = sub.add_parser(
        "dcscore",
        help="streaming benchmark decontamination (T20): drain available "
        "files, flag each doc's trigram overlap against the frozen "
        "benchset, append per-epoch verdicts under OUT",
    )
    dcs.add_argument("landing_dir", help="dir of documents-schema parquet files")
    dcs.add_argument("--benchset", required=True, help="dctrain artifact")
    dcs.add_argument("--out", required=True, help="verdicts root")
    dcs.add_argument("--checkpoint", required=True)
    dcs.add_argument(
        "--compact",
        action="store_true",
        help="merge committed verdict epochs after the drain",
    )

    lt = sub.add_parser(
        "lmtrain",
        help="train a frozen add-one bigram LM on a documents-schema "
        "parquet dir and persist the count artifact (model/prefix/vocab)",
    )
    lt.add_argument("corpus_dir", help="documents-schema parquet table")
    lt.add_argument("--model", required=True, help="artifact destination")

    ls = sub.add_parser(
        "lmscore",
        help="streaming frozen-LM perplexity scoring (T18): drain available "
        "files, score each doc against the persisted LM counts, append "
        "per-epoch verdicts under OUT",
    )
    ls.add_argument("landing_dir", help="dir of documents-schema parquet files")
    ls.add_argument("--model", required=True, help="lmtrain artifact")
    ls.add_argument("--out", required=True, help="verdicts root")
    ls.add_argument("--checkpoint", required=True)
    ls.add_argument(
        "--compact",
        action="store_true",
        help="merge committed verdict epochs after the drain",
    )

    fn = sub.add_parser(
        "funnel",
        help="composed streaming ingest funnel (T21): drain available files "
        "through exact dedup -> LSH near-dup -> frozen quality classifier -> "
        "frozen decontamination, maintaining the persistent hash/band "
        "indexes and a per-epoch (k1..k4) verdict ledger under STATE",
    )
    fn.add_argument("landing_dir", help="dir of documents-schema parquet files")
    fn.add_argument("--state", required=True, help="funnel state root")
    fn.add_argument(
        "--qc-model",
        default=None,
        help="qtrain weight artifact; omit to run the quality stage "
        "keep-all (the 3-stage skeleton funnel, r12)",
    )
    fn.add_argument("--benchset", required=True, help="dctrain gram artifact")
    fn.add_argument("--checkpoint", required=True)
    fn.add_argument(
        "--compact",
        action="store_true",
        help="compact all three state tables after the drain",
    )

    zo = sub.add_parser(
        "zorder",
        help="re-cluster a parquet table by the Morton z-value of two "
        "integer/timestamp columns so 2-D box predicates prune at row-group "
        "granularity (OPTIMIZE ZORDER)",
    )
    zo.add_argument("input_dir", help="parquet table to re-cluster")
    zo.add_argument("output_dir", help="destination for the clustered copy")
    zo.add_argument(
        "--by",
        required=True,
        metavar="COL1,COL2",
        help="two columns to interleave; timestamp columns are gridded on "
        "epoch-micros",
    )
    zo.add_argument("--files", type=int, default=32, help="output file count")

    wp = sub.add_parser(
        "wp95",
        help="streaming windowed exp-histogram p95 over an events landing "
        "dir (T16): drain available files, append watermark-sealed "
        "per-(5-min window, event_type) bucket counts under OUT, print "
        "the percentile walk over everything sealed so far",
    )
    wp.add_argument("landing_dir", help="dir of events-schema parquet files")
    wp.add_argument("--out", required=True, help="sealed bucket-count table root")
    wp.add_argument("--checkpoint", required=True)

    wh = sub.add_parser(
        "whll",
        help="streaming windowed distinct-user estimates over an events "
        "landing dir (T19): drain available files, append watermark-sealed "
        "per-(5-min window, event_type) deterministic-HLL registers under "
        "OUT, print the estimates over everything sealed so far",
    )
    wh.add_argument("landing_dir", help="dir of events-schema parquet files")
    wh.add_argument("--out", required=True, help="sealed register table root")
    wh.add_argument("--checkpoint", required=True)

    sub.add_parser("validate-config", help="load, validate and print config")
    return p


def _file_sink_has_commits(out_dir: str) -> bool:
    """Whether a streaming file sink has COMMITTED anything: gate on the
    sink's _spark_metadata log, never a *.parquet tree walk — an aborted
    batch can leave uncommitted part files a walk would count as data while
    the metadata-aware read (correctly) ignores them. Shared by the wp95
    (T16) and whll (T19) lanes."""
    meta_dir = os.path.join(out_dir, "_spark_metadata")
    return os.path.isdir(meta_dir) and any(
        os.path.getsize(os.path.join(meta_dir, f)) > 0
        for f in os.listdir(meta_dir)
        if not f.endswith(".tmp") and not f.startswith(".")
    )


def _epoch_table(spark, table_dir: str, schema: str):
    """Epoch-partitioned verdict/score table resolved to ONE row per doc:
    explicit schema (a rowless epoch must summarize as empty, not crash
    inference) + first-epoch resolution (a doc re-delivered in a later
    landing file carries a DIFFERENT verdict there — the min-epoch row is
    the ledger verdict; see streaming.pipeline.first_epoch_rows). `schema`
    must name the `epoch int` partition column.

    A table with no committed epoch yet (dir absent, or no epoch= children
    — e.g. an empty landing dir that never flushed) reads as an EMPTY
    frame, so its summary is the zero summary. The guard lives HERE so the
    whole epoch-table read contract has one owner (r12 review finding)."""
    from otlp2parquet_spark.streaming.pipeline import _epochs, first_epoch_rows

    if _epochs(table_dir):
        df = spark.read.schema(schema).parquet(table_dir)
    else:
        df = spark.createDataFrame([], schema)
    return first_epoch_rows(df, ("doc_id",))


def _aggregate(df, **aggs: str) -> dict:
    """Named SQL aggregates over `df` in one job, in keyword order."""
    return dict(zip(aggs, df.selectExpr(*aggs.values()).first()))


def _sum(flag: str) -> str:
    return f"coalesce(sum(cast({flag} AS bigint)), 0)"


def _codes_table(spark, index: str):
    """annindex's codes table; empty when no epoch ever flushed."""
    from otlp2parquet_spark.extensions.similarity import IVFPQ_CODES_SCHEMA

    codes_dir = os.path.join(index, "codes")
    if os.path.isdir(codes_dir):
        return spark.read.schema(IVFPQ_CODES_SCHEMA).parquet(codes_dir)
    return spark.createDataFrame([], IVFPQ_CODES_SCHEMA)


def _heavy_hitters(P, spark, a) -> dict:
    """hh: EXACT heavy hitters over everything ingested, from the candidate
    state (one candidate-bounded recount of the landing dir)."""
    if not os.path.isdir(os.path.join(a.state, "cands")):
        # empty landing dir: no epoch flushed, nothing to extract
        return {"heavy_hitters": 0, "top": []}
    docs = spark.read.schema(P.DOCS_SCHEMA).parquet(a.landing_dir)
    hh = P.heavy_hitters_from_state(spark, a.state, docs).collect()
    return {
        "heavy_hitters": len(hh),
        "top": [{"token": r.token, "cnt": int(r.cnt)} for r in hh[: a.top]],
    }


def _sealed_counts(spark, out: str, walk) -> tuple[int, int]:
    """(rows, distinct windows) of walk(everything sealed under `out`)."""
    # empty landing dir / nothing sealed: the file sink may never have
    # written a footer — summarize zero instead of raising on the read
    if not _file_sink_has_commits(out):
        return 0, 0
    from pyspark.errors import AnalysisException

    try:
        # one job for both integers — the walk (window functions + a
        # groupBy) is the expensive part of the lane
        return (
            walk(spark.read.parquet(out))
            .selectExpr("count(*)", "count(DISTINCT window_start)")
            .first()
        )
    except AnalysisException:
        # a commit log whose every batch sealed zero windows lists no
        # files -> nothing to infer a schema from
        return 0, 0


class _Lane(NamedTuple):
    """One stream-lane subcommand, run by _run_lane. Every callable takes
    the streaming.pipeline module first (imported only when a lane runs,
    so the Spark-free subcommands stay light), then the session and the
    parsed args."""

    start: Callable  # (P, spark, args) -> StreamingQuery
    summarize: Callable  # (P, spark, args, compacted) -> summary dict
    compact_flag: str | None = None  # the option that turns compaction on
    compact: Callable | None = None  # (P, spark, args) -> tuple of epochs removed
    no_compact: tuple = (0,)  # `compacted` when the option is off
    before_config: bool = False  # runs before, and without, config loading


def _dedup_lane(stream: str, compact_index: str, schema: str, flag: str, key: str) -> _Lane:
    """neardup (T11) and xdedup (T15): flag each doc against a persistent
    index under --state (pipeline.<stream>), verdicts under STATE/flags.
    --compact-index merges the index (pipeline.<compact_index>) and the
    flags epochs, reported as separate fields: summing them under the
    pre-existing key would silently change its meaning (round-8 review)."""
    return _Lane(
        start=lambda P, s, a: getattr(P, stream)(
            s, a.landing_dir, a.state, a.checkpoint
        ),
        compact_flag="compact_index",
        compact=lambda P, s, a: (
            getattr(P, compact_index)(s, a.state),
            P.compact_epochs(s, os.path.join(a.state, "flags")),
        ),
        no_compact=(0, 0),
        summarize=lambda P, s, a, c: {
            **_aggregate(
                _epoch_table(s, os.path.join(a.state, "flags"), schema),
                docs_flagged_total="count(*)",
                **{key: _sum(flag)},
            ),
            "index_epochs_compacted": c[0],
            "flags_epochs_compacted": c[1],
            "state": a.state,
        },
    )


def _deploy_lane(
    scorer: str, artifact: str, schema: str, key: str, agg: str, compacted: str
) -> _Lane:
    """dsirselect (T14), dcscore (T20), lmscore (T18), qscore (T13): score
    each doc against the frozen artifact named by option `artifact`
    (pipeline.deploy_stream with pipeline.<scorer>), verdicts under --out."""
    return _Lane(
        start=lambda P, s, a: P.deploy_stream(
            s,
            a.landing_dir,
            a.out,
            a.checkpoint,
            getattr(P, scorer)(s, getattr(a, artifact)),
        ),
        compact_flag="compact",
        compact=lambda P, s, a: (P.compact_epochs(s, a.out),),
        summarize=lambda P, s, a, c: {
            **_aggregate(
                _epoch_table(s, a.out, schema), docs_scored="count(*)", **{key: agg}
            ),
            compacted: c[0],
            "out": a.out,
        },
    )


def _sealed_lane(sketch: str, walk: str, rows_key: str) -> _Lane:
    """wp95 (T16) and whll (T19): append watermark-sealed per-(5-min
    window, event_type) sketch rows (pipeline.<sketch>) to a parquet file
    sink under --out, then summarize pipeline.<walk> over everything
    sealed so far."""
    return _Lane(
        start=lambda P, s, a: (
            getattr(P, sketch)(P.events_stream(s, a.landing_dir))
            .writeStream.format("parquet")
            .option("path", a.out)
            .option("checkpointLocation", a.checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        ),
        summarize=lambda P, s, a, c: dict(
            zip((rows_key, "windows_sealed"), _sealed_counts(s, a.out, getattr(P, walk))),
            out=a.out,
        ),
        before_config=True,
    )


_LANES = {
    "neardup": _dedup_lane(
        "neardup_stream",
        "compact_band_index",
        "doc_id long, is_neardup boolean, epoch int",
        "is_neardup",
        "near_dups",
    ),
    "xdedup": _dedup_lane(
        "exactdedup_stream",
        "compact_hash_index",
        "doc_id long, content_hash string, is_duplicate boolean, "
        "dup_of long, epoch int",
        "is_duplicate",
        "exact_dups",
    ),
    "hh": _Lane(
        start=lambda P, s, a: P.heavyhitters_stream(
            s, a.landing_dir, a.state, a.checkpoint
        ),
        compact_flag="compact_state",
        compact=lambda P, s, a: P.compact_hh_state(s, a.state),
        no_compact=(0, 0),
        summarize=lambda P, s, a, c: {
            **_heavy_hitters(P, s, a),
            "cands_epochs_compacted": c[0],
            "totals_epochs_compacted": c[1],
            "state": a.state,
        },
    ),
    "annindex": _Lane(
        start=lambda P, s, a: P.ivfpq_index_stream(
            s, a.landing_dir, a.index, a.checkpoint
        ),
        compact_flag="compact_codes",
        compact=lambda P, s, a: (P.compact_codes_index(s, a.index),),
        summarize=lambda P, s, a, c: {
            **_aggregate(
                _codes_table(s, a.index),
                vectors_encoded="count(DISTINCT vec_id)",
                code_rows="count(*)",
            ),
            "codes_epochs_compacted": c[0],
            "index": a.index,
        },
    ),
    "badmit": _Lane(
        start=lambda P, s, a: P.budget_admit_stream(
            s, a.landing_dir, a.state, a.budget, a.checkpoint
        ),
        compact_flag="compact",
        compact=lambda P, s, a: (
            P.compact_epochs(s, os.path.join(a.state, "verdicts")),
        ),
        summarize=lambda P, s, a, c: {
            **_aggregate(
                _epoch_table(
                    s,
                    os.path.join(a.state, "verdicts"),
                    "doc_id long, n_tok long, admitted boolean, epoch int",
                ),
                docs_seen="count(*)",
                docs_admitted=_sum("admitted"),
                tokens_admitted="coalesce(sum(if(admitted, n_tok, 0)), 0)",
            ),
            "budget": a.budget,
            "verdict_epochs_compacted": c[0],
            "state": a.state,
        },
    ),
    "dsirselect": _deploy_lane(
        "dsir_scorer",
        "model",
        "doc_id long, liw_micro long, n_tok long, keep boolean, epoch int",
        "selected",
        _sum("keep"),
        "verdict_epochs_compacted",
    ),
    "dcscore": _deploy_lane(
        "decontam_scorer",
        "benchset",
        "doc_id long, n_grams long, n_hits long, "
        "contamination double, contaminated boolean, epoch int",
        "contaminated",
        _sum("contaminated"),
        "verdict_epochs_compacted",
    ),
    "lmscore": _deploy_lane(
        "lm_scorer",
        "model",
        "doc_id long, source string, n_bigrams long, lm_score double, epoch int",
        "mean_lm_score",
        "round(avg(lm_score), 4)",
        "score_epochs_compacted",
    ),
    "qscore": _deploy_lane(
        "quality_scorer",
        "model",
        "doc_id long, y int, z long, pred int, epoch int",
        "predicted_quality",
        _sum("pred"),
        "score_epochs_compacted",
    ),
    "funnel": _Lane(
        start=lambda P, s, a: P.ingest_funnel_stream(
            s, a.landing_dir, a.state, a.qc_model, a.benchset, a.checkpoint
        ),
        compact_flag="compact",
        compact=lambda P, s, a: P.compact_ingest_funnel(s, a.state),
        no_compact=(0, 0, 0),
        summarize=lambda P, s, a, c: {
            **_aggregate(
                _epoch_table(
                    s,
                    os.path.join(a.state, "verdicts"),
                    "doc_id long, source string, k1 boolean, k2 boolean, "
                    "k3 boolean, k4 boolean, epoch int",
                ),
                docs_ingested="count(*)",
                kept_exact=_sum("k1"),
                kept_neardup=_sum("k2"),
                kept_quality=_sum("k3"),
                kept_clean=_sum("k4"),
            ),
            "compacted": dict(zip(("hash_epochs", "band_epochs", "verdict_epochs"), c)),
            "state": a.state,
        },
    ),
    "wp95": _sealed_lane("exp_hist_buckets", "exp_p95_from_buckets", "sealed_rows"),
    "whll": _sealed_lane(
        "hll_reg_buckets", "hll_estimate_from_registers", "sealed_estimates"
    ),
}


def _run_lane(lane: _Lane, args) -> int:
    """Drain the landing dir once, compact when the lane's option asks
    for it, print the summary as one JSON line."""
    from otlp2parquet_spark.session import get_spark
    from otlp2parquet_spark.streaming import pipeline as P

    spark = get_spark(app_name=f"otlp2parquet-{args.command}")
    lane.start(P, spark, args).awaitTermination()
    compacted = lane.no_compact
    if lane.compact_flag and getattr(args, lane.compact_flag):
        compacted = lane.compact(P, spark, args)
    print(json.dumps(lane.summarize(P, spark, args, compacted)))
    return 0


def _load_cfg(args):
    from otlp2parquet_spark.otel.config import load_config

    overrides: dict = {}
    if args.output:
        overrides.setdefault("storage", {})["output"] = args.output
    if args.port:
        overrides.setdefault("server", {})["port"] = args.port
    if args.log_level:
        overrides.setdefault("server", {})["log_level"] = args.log_level
    return load_config(args.config, overrides)


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.command == "connect":
        from otlp2parquet_spark.otel import connect

        endpoint = args.url or connect.DEFAULT_ENDPOINT
        try:
            print(connect.generate(args.service, endpoint))
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        return 0

    lane = _LANES.get(args.command)
    if lane is not None and lane.before_config:
        return _run_lane(lane, args)

    try:
        cfg = _load_cfg(args)
    except Exception as e:
        print(f"configuration error: {e}", file=sys.stderr)
        return 2

    if args.command == "validate-config":
        print(json.dumps(cfg.__dict__, indent=2, default=str))
        return 0

    if args.command == "compact":
        from otlp2parquet_spark.otel import compact as compact_mod
        from otlp2parquet_spark.session import get_spark

        # Non-atomic swap (see compact.py docstring): new files land before
        # fragment deletion, so a racing reader can see duplicated rows for
        # the duration, and a crash in between leaves both generations until
        # re-run. Surfacing this here is the operational gate the plain-
        # parquet layout allows (a table format would give a real commit).
        print(
            "warning: compaction swap is non-atomic — do not run while a "
            "streaming sink or readers are active on this root (racing "
            "readers may see duplicated rows until the swap completes)",
            file=sys.stderr,
        )
        spark = get_spark(app_name="otlp2parquet-compact")
        try:
            acct_df = compact_mod.compact_table(
                spark,
                cfg.output_root(),
                args.table,
                max_rows_per_file=cfg.batch["max_rows"],
                min_files_per_partition=args.min_files,
                require_quiesced_sec=0.0 if args.force else args.quiesced_sec,
            )
        except compact_mod.CompactionActiveError as e:
            # active-writer refusal (compact_table's quiesce guard); its own
            # type — a broad RuntimeError catch would also swallow
            # NotImplementedError (a RuntimeError subclass) and unrelated
            # engine errors, mislabeling them as the refusal
            print(f"error: {e}", file=sys.stderr)
            return 3
        except NotImplementedError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        acct = acct_df.collect()
        print(
            json.dumps(
                {
                    "compacted_files": len(acct),
                    "rows": int(sum(r.rows for r in acct)),
                    "output": cfg.output_root(),
                }
            )
        )
        return 0

    if lane is not None:
        return _run_lane(lane, args)

    if args.command == "dsirtrain":
        from otlp2parquet_spark.extensions.pipeline import (
            dsir_build_model,
            dsir_write_model,
        )
        from otlp2parquet_spark.session import get_spark

        spark = get_spark(app_name="otlp2parquet-dsirtrain")
        docs = spark.read.parquet(args.corpus_dir)
        model, th = dsir_build_model(docs)
        dsir_write_model(spark, model, th, args.model)
        print(
            json.dumps(
                {
                    "model_buckets": model.count(),
                    "threshold_micro": int(th),
                    "model": args.model,
                }
            )
        )
        return 0

    if args.command == "qtrain":
        from pyspark.sql import functions as F

        from otlp2parquet_spark.extensions.text import (
            _QC_ROUNDS,
            _qc_features,
            qc_shards_for,
            qc_write_model,
            quality_classifier_train,
        )
        from otlp2parquet_spark.session import get_spark

        spark = get_spark(app_name="otlp2parquet-qtrain")
        docs = spark.read.parquet(args.corpus_dir).select("doc_id", "text")
        # corpus-derived shard count (metadata-only parquet count)
        shards = qc_shards_for(docs.count())
        feat = _qc_features(docs, shards=shards).localCheckpoint(eager=False)
        rounds = args.rounds if args.rounds is not None else _QC_ROUNDS
        w = quality_classifier_train(feat, rounds=rounds, shards=shards)
        qc_write_model(spark, w, args.model, shards=shards, rounds=rounds)
        n, n_pos = feat.agg(F.count("*"), F.sum("y")).first()
        print(
            json.dumps(
                {
                    "docs_trained": int(n),
                    "label_balance": int(n_pos or 0),
                    "nonzero_weights": sum(1 for v in w if v),
                    "shards": shards,
                    "model": args.model,
                }
            )
        )
        return 0

    if args.command == "dctrain":
        from otlp2parquet_spark.extensions.pipeline import (
            decontam_read_benchset,
            decontam_write_benchset,
        )
        from otlp2parquet_spark.session import get_spark

        spark = get_spark(app_name="otlp2parquet-dctrain")
        bench = spark.read.parquet(args.bench_dir).select("doc_id", "text")
        decontam_write_benchset(bench, args.benchset)
        n = decontam_read_benchset(spark, args.benchset).count()
        print(json.dumps({"bench_grams": int(n), "benchset": args.benchset}))
        return 0

    if args.command == "lmtrain":
        from otlp2parquet_spark.extensions.text import lm_read_model, lm_write_model
        from otlp2parquet_spark.session import get_spark

        spark = get_spark(app_name="otlp2parquet-lmtrain")
        docs = spark.read.parquet(args.corpus_dir).select("doc_id", "text", "source")
        lm_write_model(docs, args.model)
        _m, _p, vocab, n_model, _np = lm_read_model(spark, args.model)
        print(
            json.dumps(
                {
                    "model_bigram_types": int(n_model),
                    "sources": vocab.count(),
                    "model": args.model,
                }
            )
        )
        return 0

    if args.command == "zorder":
        from pyspark.sql import functions as F
        from pyspark.sql import types as SQLT

        from otlp2parquet_spark.layout import grid16, zorder_write, zvalue16
        from otlp2parquet_spark.session import get_spark

        cols = [c.strip() for c in args.by.split(",")]
        if len(cols) != 2:
            print(json.dumps({"error": "--by needs exactly two columns"}))
            return 2
        spark = get_spark(app_name="otlp2parquet-zorder")
        df = spark.read.parquet(args.input_dir)

        types = {fld.name: fld.dataType for fld in df.schema.fields}
        missing = [c for c in cols if c not in types]
        if missing:
            print(json.dumps({"error": f"columns not in input: {missing}"}))
            return 2

        def as_int(c: str):
            if isinstance(types[c], (SQLT.TimestampType, SQLT.TimestampNTZType)):
                return F.unix_micros(F.col(c).cast("timestamp"))
            return F.col(c).cast("long")

        x, y = as_int(cols[0]), as_int(cols[1])
        # extremes are ONE bounded driver row, inlined as literals so the
        # grid arithmetic is the registry operator's exact integer DIV
        xmin, xmax, ymin, ymax = df.agg(
            F.min(x), F.max(x), F.min(y), F.max(y)
        ).first()
        if xmin is None or ymin is None:
            # empty table (or all-null cluster keys): nothing to cluster
            print(json.dumps({"error": "no rows with non-null cluster keys"}))
            return 2
        zed = df.withColumn("_zx", x).withColumn("_zy", y)
        zcol = zvalue16(
            grid16("_zx", int(xmin), int(xmax)),
            grid16("_zy", int(ymin), int(ymax)),
        ).cast("long")
        zorder_write(
            zed, zcol, args.output_dir, n_files=args.files, drop=("_zx", "_zy")
        )
        n = spark.read.parquet(args.output_dir).count()
        print(
            json.dumps(
                {
                    "rows": int(n),
                    "by": cols,
                    "files": args.files,
                    "output": args.output_dir,
                }
            )
        )
        return 0

    if args.command == "serve":
        from otlp2parquet_spark.otel import receiver

        srv = receiver.make_server(
            args.landing_root,
            args.host,
            cfg.server["port"],
            max_payload_bytes=cfg.request["max_payload_bytes"],
            quiet=False,
        )
        print(
            f"listening on {args.host}:{srv.server_address[1]}, "
            f"landing -> {args.landing_root}"
        )
        try:
            srv.serve_forever()
        except KeyboardInterrupt:
            pass
        finally:
            srv.server_close()
        return 0

    if args.command in ("ingest", "stream"):
        from otlp2parquet_spark.otel import config as cfgmod
        from otlp2parquet_spark.otel import ingest as batch_ingest
        from otlp2parquet_spark.otel import writer
        from otlp2parquet_spark.session import get_spark

        spark = get_spark(app_name=f"otlp2parquet-{args.command}")
        cfgmod.apply_storage_conf(spark, cfg)
        root = cfg.output_root()
        layout = cfg.engine["layout"]

        if args.command == "ingest":
            tables = batch_ingest.ingest_directory(
                spark,
                args.landing_dir,
                args.signal,
                max_payload_bytes=cfg.request["max_payload_bytes"],
                quarantine_dir=args.quarantine,
            )
            summary = {
                name: writer.write_table(
                    df, name, root, layout=layout, max_rows_per_file=cfg.batch["max_rows"]
                )
                for name, df in tables.items()
                if not name.startswith("_")
            }
            if "_union" in tables:
                tables["_union"].unpersist()
            # D27 response-accounting twin
            resp = {"written": summary, "output": root}
            if args.quarantine:
                qdf = batch_ingest.read_quarantine(spark, args.quarantine)
                resp["quarantined"] = {
                    r.code: r["count"] for r in qdf.groupBy("code").count().collect()
                }
            print(json.dumps(resp))
            return 0

        from otlp2parquet_spark.streaming.ingest import stream_ingest

        q = stream_ingest(
            spark,
            args.landing_dir,
            args.signal,
            root,
            args.checkpoint,
            layout=layout,
            trigger_seconds=None if args.available_now else args.trigger_seconds,
            available_now=args.available_now,
            max_rows_per_file=cfg.batch["max_rows"],
            quarantine_dir=args.quarantine,
            max_payload_bytes=cfg.request["max_payload_bytes"],
        )
        q.awaitTermination()
        return 0

    _build_parser().print_help()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
