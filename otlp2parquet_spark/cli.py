"""CLI entry point (reference src/main.rs:33-130 twin, Spark-flavored).

Every subcommand is one entry of the command table ``_COMMANDS``: its
arguments, whether it reads the layered config, and a run function that
returns its summary (printed by ``main`` as one JSON line) or an exit code.
``--help`` lists them all:
- ``ingest``  — batch ingest a landing dir for one signal into the
  partitioned layout (the reference's serve+POST dataflow, batch-mode);
- ``stream``  — continuous Structured-Streaming ingest with checkpointing;
- ``serve``, ``compact``, ``zorder``, ``connect`` (client config templates,
  D29) and ``validate-config`` (load + validate the layered config, print it);
- the ``*train`` commands, which build the frozen artifacts the deploy
  lanes score against;
- the stream-lane commands (neardup, xdedup, hh, annindex, badmit,
  dsirselect, dcscore, lmscore, qscore, funnel, wp95, whll), built by
  ``_lane``: drain the landing dir once (availableNow), optionally
  compact, summarize.

Only ingest, stream, serve, compact and validate-config read the config;
a config error exits 2 before any session starts. Global flags mirror the
reference: ``--config FILE``, ``--output DIR`` and ``--port`` (the
out-of-engine HTTP receiver's port, read by ``serve``).
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


def _arg(*flags: str, **kwargs) -> tuple:
    """One argparse argument: its name or flags and add_argument's kwargs."""
    return flags, kwargs


class _Command(NamedTuple):
    help: str
    args: tuple  # of _arg, in --help order
    run: Callable  # (args, cfg or None) -> summary dict | exit code
    config: bool = False  # load the layered config first (exit 2 on error)


def _spark(a):
    from otlp2parquet_spark.session import get_spark

    return get_spark(app_name=f"otlp2parquet-{a.command}")


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


def _lane(
    help: str,
    landing: str,
    opts: tuple,
    start: Callable,
    summarize: Callable,
    *,
    compact: Callable | None = None,
    counts: int = 1,
    compact_flag: str = "--compact",
    compact_help: str = "merge committed verdict epochs after the drain",
    after: tuple = (),
) -> _Command:
    """One stream-lane subcommand over a `landing`-schema landing dir:
    arguments `landing_dir`, `opts`, `--checkpoint`, then the compaction
    flag when the lane has a `compact`, then `after`. Its run drains the
    landing dir once, runs `compact` when the flag is on (else reports
    `counts` zeros) and returns `summarize`'s dict. `start`, `compact` and
    `summarize` take the streaming.pipeline module first (imported only
    when a lane runs, so the Spark-free subcommands stay light), then the
    session and the parsed args; `summarize` last takes the compaction
    counts."""
    args = (
        _arg("landing_dir", help=f"dir of {landing}-schema parquet files"),
        *opts,
        _arg("--checkpoint", required=True),
    )
    if compact is not None:
        args += (_arg(compact_flag, action="store_true", help=compact_help),)
    flag_dest = compact_flag[2:].replace("-", "_")

    def run(a, _cfg) -> dict:
        from otlp2parquet_spark.streaming import pipeline as P

        spark = _spark(a)
        start(P, spark, a).awaitTermination()
        compacted = (0,) * counts
        if compact is not None and getattr(a, flag_dest):
            compacted = compact(P, spark, a)
        return summarize(P, spark, a, compacted)

    return _Command(help, args + after, run)


def _dedup_lane(
    help: str, state_help: str, compact_help: str, stream: str, compact_index: str,
    schema: str, flag: str, key: str,
) -> _Command:
    """neardup (T11) and xdedup (T15): flag each doc against a persistent
    index under --state (pipeline.<stream>), verdicts under STATE/flags.
    --compact-index merges the index (pipeline.<compact_index>) and the
    flags epochs, reported as separate fields: summing them under the
    pre-existing key would silently change its meaning (round-8 review)."""
    return _lane(
        help,
        "documents",
        (_arg("--state", required=True, help=state_help),),
        start=lambda P, s, a: getattr(P, stream)(s, a.landing_dir, a.state, a.checkpoint),
        compact=lambda P, s, a: (
            getattr(P, compact_index)(s, a.state),
            P.compact_epochs(s, os.path.join(a.state, "flags")),
        ),
        counts=2,
        compact_flag="--compact-index",
        compact_help=compact_help,
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
    help: str, artifact: str, artifact_help: str, scorer: str, schema: str,
    key: str, agg: str, compacted: str,
) -> _Command:
    """dsirselect (T14), dcscore (T20), lmscore (T18), qscore (T13): score
    each doc against the frozen artifact named by option --<artifact>
    (pipeline.deploy_stream with pipeline.<scorer>), verdicts under --out."""
    return _lane(
        help,
        "documents",
        (
            _arg(f"--{artifact}", required=True, help=artifact_help),
            _arg("--out", required=True, help="verdicts root"),
        ),
        start=lambda P, s, a: P.deploy_stream(
            s, a.landing_dir, a.out, a.checkpoint, getattr(P, scorer)(s, getattr(a, artifact))
        ),
        compact=lambda P, s, a: (P.compact_epochs(s, a.out),),
        summarize=lambda P, s, a, c: {
            **_aggregate(
                _epoch_table(s, a.out, schema), docs_scored="count(*)", **{key: agg}
            ),
            compacted: c[0],
            "out": a.out,
        },
    )


def _sealed_lane(help: str, out_help: str, sketch: str, walk: str, rows_key: str) -> _Command:
    """wp95 (T16) and whll (T19): append watermark-sealed per-(5-min
    window, event_type) sketch rows (pipeline.<sketch>) to a parquet file
    sink under --out, then summarize pipeline.<walk> over everything
    sealed so far."""
    return _lane(
        help,
        "events",
        (_arg("--out", required=True, help=out_help),),
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
    )


def _ingest(a, cfg) -> dict:
    from otlp2parquet_spark.otel import ingest, writer
    from otlp2parquet_spark.otel.config import apply_storage_conf

    spark = _spark(a)
    apply_storage_conf(spark, cfg)
    root = cfg.output_root()
    tables = ingest.ingest_directory(
        spark,
        a.landing_dir,
        a.signal,
        max_payload_bytes=cfg.request["max_payload_bytes"],
        quarantine_dir=a.quarantine,
    )
    written = {
        name: writer.write_table(
            df, name, root, layout=cfg.engine["layout"], max_rows_per_file=cfg.batch["max_rows"]
        )
        for name, df in tables.items()
        if not name.startswith("_")
    }
    # D27 response-accounting twin: nothing read is dropped unsaid.
    # The rejections rode the writes (the `_landing` observation).
    landing = writer.observation_row(tables["_landing"])
    resp = {
        "written": written,
        "output": root,
        "rejected": {r: n for r, n in landing.items() if n},
    }
    if "_union" in tables:
        # read off the persisted union before it is released
        skipped = tables["_skipped"].collect()
        resp["skipped"] = {r.reason: int(r["count"]) for r in skipped}
        tables["_union"].unpersist()
    if a.quarantine:
        qdf = ingest.read_quarantine(spark, a.quarantine)
        resp["quarantined"] = {
            r.code: r["count"] for r in qdf.groupBy("code").count().collect()
        }
    return resp


def _stream(a, cfg) -> dict | int:
    from otlp2parquet_spark.otel.config import apply_storage_conf
    from otlp2parquet_spark.streaming.ingest import stream_ingest

    spark = _spark(a)
    apply_storage_conf(spark, cfg)
    query = stream_ingest(
        spark,
        a.landing_dir,
        a.signal,
        cfg.output_root(),
        a.checkpoint,
        layout=cfg.engine["layout"],
        trigger_seconds=None if a.available_now else a.trigger_seconds,
        available_now=a.available_now,
        max_rows_per_file=cfg.batch["max_rows"],
        quarantine_dir=a.quarantine,
        max_payload_bytes=cfg.request["max_payload_bytes"],
    )
    query.awaitTermination()
    if not a.available_now:
        return 0
    # the drain's totals, from its progress events' observed metrics (a
    # handle without progress events reports zeros)
    seen = [p["observedMetrics"] for p in getattr(query, "recentProgress", ())]
    return {
        "records": sum(m["ingest"]["records"] for m in seen if "ingest" in m),
        "rejected": sum(m["landing"]["rejected"] for m in seen if "landing" in m),
    }


def _connect(a, _cfg) -> int:
    from otlp2parquet_spark.otel import connect

    try:
        print(connect.generate(a.service, a.url or connect.DEFAULT_ENDPOINT))
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    return 0


def _serve(a, cfg) -> int:
    from otlp2parquet_spark.otel import receiver

    srv = receiver.make_server(
        a.landing_root,
        a.host,
        cfg.server["port"],
        max_payload_bytes=cfg.request["max_payload_bytes"],
        quiet=False,
    )
    print(f"listening on {a.host}:{srv.server_address[1]}, landing -> {a.landing_root}")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.server_close()
    return 0


def _compact(a, cfg) -> dict | int:
    from otlp2parquet_spark.otel import compact
    from otlp2parquet_spark.otel.config import apply_storage_conf

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
    spark = _spark(a)
    apply_storage_conf(spark, cfg)
    try:
        acct_df = compact.compact_table(
            spark,
            cfg.output_root(),
            a.table,
            max_rows_per_file=cfg.batch["max_rows"],
            min_files_per_partition=a.min_files,
            require_quiesced_sec=0.0 if a.force else a.quiesced_sec,
        )
    except compact.CompactionActiveError as e:
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
    return {
        "compacted_files": len(acct),
        "rows": int(sum(r.rows for r in acct)),
        "output": cfg.output_root(),
    }


def _dsirtrain(a, _cfg) -> dict:
    from otlp2parquet_spark.extensions.pipeline import dsir_build_model, dsir_write_model

    spark = _spark(a)
    model, th = dsir_build_model(spark.read.parquet(a.corpus_dir))
    dsir_write_model(spark, model, th, a.model)
    return {"model_buckets": model.count(), "threshold_micro": int(th), "model": a.model}


def _qtrain(a, _cfg) -> dict:
    from pyspark.sql import functions as F

    from otlp2parquet_spark.extensions.text import (
        _QC_ROUNDS,
        _qc_features,
        qc_shards_for,
        qc_write_model,
        quality_classifier_train,
    )

    spark = _spark(a)
    docs = spark.read.parquet(a.corpus_dir).select("doc_id", "text")
    # corpus-derived shard count (metadata-only parquet count)
    shards = qc_shards_for(docs.count())
    feat = _qc_features(docs, shards=shards).localCheckpoint(eager=False)
    rounds = a.rounds if a.rounds is not None else _QC_ROUNDS
    w = quality_classifier_train(feat, rounds=rounds, shards=shards)
    qc_write_model(spark, w, a.model, shards=shards, rounds=rounds)
    n, n_pos = feat.agg(F.count("*"), F.sum("y")).first()
    return {
        "docs_trained": int(n),
        "label_balance": int(n_pos or 0),
        "nonzero_weights": sum(1 for v in w if v),
        "shards": shards,
        "model": a.model,
    }


def _dctrain(a, _cfg) -> dict:
    from otlp2parquet_spark.extensions.pipeline import (
        decontam_read_benchset,
        decontam_write_benchset,
    )

    spark = _spark(a)
    decontam_write_benchset(spark.read.parquet(a.bench_dir).select("doc_id", "text"), a.benchset)
    n = decontam_read_benchset(spark, a.benchset).count()
    return {"bench_grams": int(n), "benchset": a.benchset}


def _lmtrain(a, _cfg) -> dict:
    from otlp2parquet_spark.extensions.text import lm_read_model, lm_write_model

    spark = _spark(a)
    lm_write_model(spark.read.parquet(a.corpus_dir).select("doc_id", "text", "source"), a.model)
    _m, _p, vocab, n_model, _np = lm_read_model(spark, a.model)
    return {"model_bigram_types": int(n_model), "sources": vocab.count(), "model": a.model}


def _zorder_error(msg: str) -> int:
    print(json.dumps({"error": msg}))
    return 2


def _zorder(a, _cfg) -> dict | int:
    from pyspark.sql import functions as F
    from pyspark.sql import types as SQLT

    from otlp2parquet_spark.layout import grid16, zorder_write, zvalue16

    cols = [c.strip() for c in a.by.split(",")]
    if len(cols) != 2:
        return _zorder_error("--by needs exactly two columns")
    spark = _spark(a)
    df = spark.read.parquet(a.input_dir)

    types = {fld.name: fld.dataType for fld in df.schema.fields}
    missing = [c for c in cols if c not in types]
    if missing:
        return _zorder_error(f"columns not in input: {missing}")

    def as_int(c: str):
        if isinstance(types[c], (SQLT.TimestampType, SQLT.TimestampNTZType)):
            return F.unix_micros(F.col(c).cast("timestamp"))
        return F.col(c).cast("long")

    x, y = as_int(cols[0]), as_int(cols[1])
    # extremes are ONE bounded driver row, inlined as literals so the
    # grid arithmetic is the registry operator's exact integer DIV
    xmin, xmax, ymin, ymax = df.agg(F.min(x), F.max(x), F.min(y), F.max(y)).first()
    if xmin is None or ymin is None:
        # empty table (or all-null cluster keys): nothing to cluster
        return _zorder_error("no rows with non-null cluster keys")
    zed = df.withColumn("_zx", x).withColumn("_zy", y)
    zcol = zvalue16(
        grid16("_zx", int(xmin), int(xmax)),
        grid16("_zy", int(ymin), int(ymax)),
    ).cast("long")
    zorder_write(zed, zcol, a.output_dir, n_files=a.files, drop=("_zx", "_zy"))
    n = spark.read.parquet(a.output_dir).count()
    return {"rows": int(n), "by": cols, "files": a.files, "output": a.output_dir}


def _validate_config(_a, cfg) -> int:
    print(json.dumps(cfg.__dict__, indent=2, default=str))
    return 0


_SIGNAL = _arg("signal", choices=["logs", "traces", "metrics"])
_CORPUS = _arg("corpus_dir", help="documents-schema parquet table")

_COMMANDS = {
    "ingest": _Command(
        "batch-ingest a landing directory",
        (
            _arg("landing_dir"),
            _SIGNAL,
            _arg(
                "--quarantine",
                metavar="DIR",
                help="land invalid payloads (+ typed-reason sidecars) here and "
                "continue, instead of failing the job (D25)",
            ),
        ),
        _ingest,
        config=True,
    ),
    "stream": _Command(
        "streaming ingest with checkpoints",
        (
            _arg("landing_dir"),
            _SIGNAL,
            _arg("--checkpoint", required=True),
            _arg("--trigger-seconds", type=float, default=5.0),
            _arg("--available-now", action="store_true"),
            _arg("--quarantine", metavar="DIR", help="as in ingest --quarantine"),
        ),
        _stream,
        config=True,
    ),
    "connect": _Command(
        "emit client config templates",
        (_arg("service"), _arg("--url", default=None)),
        _connect,
    ),
    "serve": _Command(
        "run the out-of-engine HTTP receiver (D1)",
        (_arg("landing_root"), _arg("--host", default="0.0.0.0")),
        _serve,
        config=True,
    ),
    "compact": _Command(
        "merge small flush files per partition (parity layout)",
        (
            _arg("table", help="e.g. otel_logs"),
            _arg("--min-files", type=int, default=2),
            _arg(
                "--quiesced-sec",
                type=float,
                default=120.0,
                help="refuse when any data file is younger than this (active-writer "
                "guard for the non-atomic swap); --force disables",
            ),
            _arg(
                "--force",
                action="store_true",
                help="compact even if a writer looks active on the root",
            ),
        ),
        _compact,
        config=True,
    ),
    "neardup": _dedup_lane(
        "streaming near-dup dedup over a documents landing dir (T11): "
        "drain available files, flag each doc against the persistent LSH "
        "band index, append per-epoch verdicts under STATE/flags",
        "band index + flags root",
        "merge committed band-index AND flags epochs after the drain "
        "(replay-safe: only epochs below the newest)",
        "neardup_stream",
        "compact_band_index",
        "doc_id long, is_neardup boolean, epoch int",
        "is_neardup",
        "near_dups",
    ),
    "xdedup": _dedup_lane(
        "streaming EXACT dedup over a documents landing dir (T15): "
        "drain available files, flag each doc against the persistent "
        "content-hash index, append per-epoch verdicts under STATE/flags",
        "hash index + flags root",
        "merge committed hash-index AND flags epochs after the drain",
        "exactdedup_stream",
        "compact_hash_index",
        "doc_id long, content_hash string, is_duplicate boolean, dup_of long, epoch int",
        "is_duplicate",
        "exact_dups",
    ),
    "hh": _lane(
        "streaming heavy-hitter maintenance (T17): drain a documents "
        "landing dir, fold each micro-batch into a per-epoch Misra-Gries "
        "candidate summary under STATE, then extract the EXACT heavy "
        "hitters over everything ingested (one candidate-bounded recount)",
        "documents",
        (_arg("--state", required=True, help="candidate summary root"),),
        start=lambda P, s, a: P.heavyhitters_stream(s, a.landing_dir, a.state, a.checkpoint),
        compact=lambda P, s, a: P.compact_hh_state(s, a.state),
        counts=2,
        compact_flag="--compact-state",
        compact_help="merge committed candidate/total epochs after the drain",
        after=(_arg("--top", type=int, default=10, help="rows to print"),),
        summarize=lambda P, s, a, c: {
            **_heavy_hitters(P, s, a),
            "cands_epochs_compacted": c[0],
            "totals_epochs_compacted": c[1],
            "state": a.state,
        },
    ),
    "annindex": _lane(
        "streaming ANN index maintenance (T12): train IVFPQ artifacts "
        "on the first batch, encode every arriving embedding batch against "
        "the frozen quantizer, append per-epoch codes under INDEX/codes",
        "embeddings",
        (_arg("--index", required=True, help="artifact + codes root"),),
        start=lambda P, s, a: P.ivfpq_index_stream(s, a.landing_dir, a.index, a.checkpoint),
        compact=lambda P, s, a: (P.compact_codes_index(s, a.index),),
        compact_flag="--compact-codes",
        compact_help="merge committed codes epochs after the drain "
        "(replay-safe: only epochs below the newest)",
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
    "dsirtrain": _Command(
        "train the DSIR selection model (hashed-unigram importance "
        "log-ratios + frozen keep threshold) on a documents-schema parquet "
        "dir and persist the artifact",
        (_CORPUS, _arg("--model", required=True, help="model artifact destination")),
        _dsirtrain,
    ),
    "dsirselect": _deploy_lane(
        "streaming DSIR selection (T14): drain available files, score "
        "each doc map-only against the frozen selection model, append "
        "per-epoch keep/drop verdicts under OUT",
        "model",
        "dsirtrain artifact",
        "dsir_scorer",
        "doc_id long, liw_micro long, n_tok long, keep boolean, epoch int",
        "selected",
        _sum("keep"),
        "verdict_epochs_compacted",
    ),
    "badmit": _lane(
        "streaming token-budget admission (T22): drain available "
        "files, admit docs in arrival order while the global token count "
        "fits --budget, append per-epoch verdicts under STATE/verdicts. "
        "Input must be doc-unique (run xdedup upstream): budget is "
        "charged per arrival",
        "documents",
        (
            _arg("--state", required=True, help="verdicts + totals root"),
            _arg("--budget", required=True, type=_positive_int, help="token budget"),
        ),
        start=lambda P, s, a: P.budget_admit_stream(
            s, a.landing_dir, a.state, a.budget, a.checkpoint
        ),
        compact=lambda P, s, a: (P.compact_epochs(s, os.path.join(a.state, "verdicts")),),
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
    "qtrain": _Command(
        "train the linear quality classifier (IPM perceptron) on a "
        "documents-schema parquet dir and persist the weight artifact",
        (
            _CORPUS,
            _arg("--model", required=True, help="weight artifact destination"),
            _arg("--rounds", type=_positive_int, default=None, help="IPM rounds (>= 1)"),
        ),
        _qtrain,
    ),
    "qscore": _deploy_lane(
        "streaming quality scoring (T13): drain available files, score "
        "each doc map-only against the frozen persisted classifier, append "
        "per-epoch verdicts under OUT",
        "model",
        "qtrain weight artifact",
        "quality_scorer",
        "doc_id long, y int, z long, pred int, epoch int",
        "predicted_quality",
        _sum("pred"),
        "score_epochs_compacted",
    ),
    "dctrain": _Command(
        "extract a benchmark's distinct trigram set from a "
        "documents-schema parquet dir and persist it (the T20 artifact)",
        (
            _arg("bench_dir", help="benchmark documents parquet table"),
            _arg("--benchset", required=True, help="gram-set destination"),
        ),
        _dctrain,
    ),
    "dcscore": _deploy_lane(
        "streaming benchmark decontamination (T20): drain available "
        "files, flag each doc's trigram overlap against the frozen "
        "benchset, append per-epoch verdicts under OUT",
        "benchset",
        "dctrain artifact",
        "decontam_scorer",
        "doc_id long, n_grams long, n_hits long, "
        "contamination double, contaminated boolean, epoch int",
        "contaminated",
        _sum("contaminated"),
        "verdict_epochs_compacted",
    ),
    "lmtrain": _Command(
        "train a frozen add-one bigram LM on a documents-schema "
        "parquet dir and persist the count artifact (model/prefix/vocab)",
        (_CORPUS, _arg("--model", required=True, help="artifact destination")),
        _lmtrain,
    ),
    "lmscore": _deploy_lane(
        "streaming frozen-LM perplexity scoring (T18): drain available "
        "files, score each doc against the persisted LM counts, append "
        "per-epoch verdicts under OUT",
        "model",
        "lmtrain artifact",
        "lm_scorer",
        "doc_id long, source string, n_bigrams long, lm_score double, epoch int",
        "mean_lm_score",
        "round(avg(lm_score), 4)",
        "score_epochs_compacted",
    ),
    "funnel": _lane(
        "composed streaming ingest funnel (T21): drain available files "
        "through exact dedup -> LSH near-dup -> frozen quality classifier -> "
        "frozen decontamination, maintaining the persistent hash/band "
        "indexes and a per-epoch (k1..k4) verdict ledger under STATE",
        "documents",
        (
            _arg("--state", required=True, help="funnel state root"),
            _arg(
                "--qc-model",
                default=None,
                help="qtrain weight artifact; omit to run the quality stage "
                "keep-all (the 3-stage skeleton funnel, r12)",
            ),
            _arg("--benchset", required=True, help="dctrain gram artifact"),
        ),
        start=lambda P, s, a: P.ingest_funnel_stream(
            s, a.landing_dir, a.state, a.qc_model, a.benchset, a.checkpoint
        ),
        compact=lambda P, s, a: P.compact_ingest_funnel(s, a.state),
        counts=3,
        compact_help="compact all three state tables after the drain",
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
    "zorder": _Command(
        "re-cluster a parquet table by the Morton z-value of two "
        "integer/timestamp columns so 2-D box predicates prune at row-group "
        "granularity (OPTIMIZE ZORDER)",
        (
            _arg("input_dir", help="parquet table to re-cluster"),
            _arg("output_dir", help="destination for the clustered copy"),
            _arg(
                "--by",
                required=True,
                metavar="COL1,COL2",
                help="two columns to interleave; timestamp columns are gridded on "
                "epoch-micros",
            ),
            _arg("--files", type=int, default=32, help="output file count"),
        ),
        _zorder,
    ),
    "wp95": _sealed_lane(
        "streaming windowed exp-histogram p95 over an events landing "
        "dir (T16): drain available files, append watermark-sealed "
        "per-(5-min window, event_type) bucket counts under OUT, print "
        "the percentile walk over everything sealed so far",
        "sealed bucket-count table root",
        "exp_hist_buckets",
        "exp_p95_from_buckets",
        "sealed_rows",
    ),
    "whll": _sealed_lane(
        "streaming windowed distinct-user estimates over an events "
        "landing dir (T19): drain available files, append watermark-sealed "
        "per-(5-min window, event_type) deterministic-HLL registers under "
        "OUT, print the estimates over everything sealed so far",
        "sealed register table root",
        "hll_reg_buckets",
        "hll_estimate_from_registers",
        "sealed_estimates",
    ),
    "validate-config": _Command(
        "load, validate and print config", (), _validate_config, config=True
    ),
}


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="otlp2parquet-spark")
    p.add_argument("--config", metavar="FILE", help="TOML config file")
    p.add_argument("--output", metavar="DIR", help="output root (fs backend only)")
    p.add_argument("--port", type=int, help="receiver port (parity flag)")
    sub = p.add_subparsers(dest="command")
    for name, cmd in _COMMANDS.items():
        sp = sub.add_parser(name, help=cmd.help)
        for flags, kwargs in cmd.args:
            sp.add_argument(*flags, **kwargs)
    return p


def _load_cfg(args):
    from otlp2parquet_spark.otel.config import load_config

    overrides: dict = {}
    if args.output:
        overrides.setdefault("storage", {})["output"] = args.output
    if args.port:
        overrides.setdefault("server", {})["port"] = args.port
    return load_config(args.config, overrides)


def main(argv: list[str] | None = None) -> int:
    parser = _build_parser()
    args = parser.parse_args(argv)
    cmd = _COMMANDS.get(args.command)
    if cmd is None:
        parser.print_help()
        return 0
    cfg = None
    if cmd.config:
        try:
            cfg = _load_cfg(args)
        except Exception as e:
            print(f"configuration error: {e}", file=sys.stderr)
            return 2
    out = cmd.run(args, cfg)
    if isinstance(out, int):
        return out
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
