"""Degenerate-artifact hardening (r11 verdict ask #4): every artifact
reader must survive a _SUCCESS-only (rowless, footerless) directory — the
debris a writer crash can leave behind — with either an ACTIONABLE error
or a documented safe default, never a schema-inference crash. The r10
ADVICE fixed this class for lm_read_model; this file pins the discipline
for every remaining reader family: the quality-classifier artifacts, the
DSIR selection model, the IVFPQ index, the T11/T15 history indexes (probe
AND compaction), and the epoch-union verdict tables.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _success_only(path: str) -> str:
    """A directory holding only a _SUCCESS marker — what a crashed (or
    zero-task) parquet write commits: nothing to infer a schema from."""
    os.makedirs(path, exist_ok=True)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return path


# ---------------------------------------------------------------------------
# quality classifier (qc_read_model / qc_read_meta)


def test_qc_read_model_rowless_weights_actionable(spark, tmp_path):
    """A rowless weights dir must raise the reader's own row-count error
    (names the path and expectation), not an inference AnalysisException."""
    from otlp2parquet_spark.extensions.text import qc_read_model

    root = str(tmp_path / "qc")
    _success_only(os.path.join(root, "weights"))
    with pytest.raises(ValueError, match="0 rows"):
        qc_read_model(spark, root)


def test_qc_read_meta_rowless_returns_defaults(spark, tmp_path):
    """A rowless meta dir carries no provenance — same answer as the
    legacy no-meta layout: the pinned defaults, not a crash."""
    from otlp2parquet_spark.extensions.text import (
        _QC_ROUNDS,
        _QC_SHARDS,
        qc_read_meta,
    )

    root = str(tmp_path / "qc")
    _success_only(os.path.join(root, "meta"))
    assert qc_read_meta(spark, root) == {
        "shards": _QC_SHARDS,
        "rounds": _QC_ROUNDS,
    }


# ---------------------------------------------------------------------------
# DSIR selection model


def test_dsir_read_model_rowless_meta_actionable(spark, tmp_path):
    """dsir_write_model stamps exactly one meta row; a rowless meta is a
    torn artifact and must fail LOUDLY (a guessed threshold would silently
    mis-select every doc)."""
    from otlp2parquet_spark.extensions.pipeline import dsir_read_model

    root = str(tmp_path / "dsir")
    _success_only(os.path.join(root, "buckets"))
    _success_only(os.path.join(root, "meta"))
    with pytest.raises(ValueError, match="rowless meta"):
        dsir_read_model(spark, root)


def test_dsir_rowless_buckets_score_all_oov(spark, tmp_path):
    """A rowless BUCKETS table with an intact meta reads fine (explicit
    schema) and scores every token through the weight-0 legacy fallback —
    the all-OOV deploy behavior, not a crash."""
    from otlp2parquet_spark.extensions.pipeline import (
        dsir_read_model,
        dsir_score,
    )

    root = str(tmp_path / "dsir")
    _success_only(os.path.join(root, "buckets"))
    spark.createDataFrame([(7,)], "threshold_micro long").write.mode(
        "overwrite"
    ).parquet(os.path.join(root, "meta"))
    model, th = dsir_read_model(spark, root)
    assert th == 7 and model.count() == 0
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in dsir_score(docs, model, th).collect()}
    # every token is OOV with no sentinel -> weight 0 -> below threshold 7
    assert rows[1].liw_micro == 0 and not rows[1].keep
    assert rows[2].liw_micro == 0 and not rows[2].keep


# ---------------------------------------------------------------------------
# IVFPQ index


def test_ivfpq_read_index_rowless_dirs_read_empty(spark, tmp_path):
    """All three artifact dirs rowless: the reads return EMPTY frames with
    the pinned schemas (search over them yields nothing) — no inference
    crash in the deploy path."""
    from otlp2parquet_spark.extensions.similarity import ivfpq_read_index

    root = str(tmp_path / "ivfpq")
    for sub in ("codes", "codebook", "centroids"):
        _success_only(os.path.join(root, sub))
    codes, cb, cents = ivfpq_read_index(spark, root)
    assert codes.count() == 0 and cb.count() == 0 and cents.count() == 0
    assert [f.name for f in codes.schema.fields] == [
        "vec_id",
        "cluster_id",
        "m",
        "code",
    ]


# ---------------------------------------------------------------------------
# T15/T11 history indexes: probe + compaction over a legacy-flat rowless epoch


def test_exact_probe_survives_rowless_flat_history_epoch(spark, tmp_path):
    """A legacy flat epoch dir holding only _SUCCESS (no _NB sidecar, no
    bucket dirs) is exactly the shape _epoch_leaves over-reads whole; the
    probe's explicit schema must treat it as EMPTY history — first-seen
    verdicts as if no history existed — not crash (r11 ADVICE)."""
    from otlp2parquet_spark.streaming.pipeline import exact_probe_update

    hashes = str(tmp_path / "hashes")
    _success_only(os.path.join(hashes, "epoch=0"))
    batch = spark.createDataFrame(
        [(10, "aaa"), (11, "aaa"), (12, "bbb")], "doc_id long, text string"
    ).select("doc_id", F.sha2(F.col("text").cast("binary"), 256).alias("h"))
    out = exact_probe_update(spark, hashes, 1, batch)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[10].keeper == 10  # no history: first emitter keeps
    assert rows[11].keeper == 10
    assert rows[12].keeper == 12


def test_band_probe_survives_rowless_flat_history_epoch(spark, tmp_path):
    from otlp2parquet_spark.streaming.pipeline import band_probe_update

    bands = str(tmp_path / "bands")
    _success_only(os.path.join(bands, "epoch=0"))
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    ).persist()
    try:
        out = band_probe_update(spark, bands, 1, docs)
        assert [(r.doc_id, r.is_neardup) for r in out.collect()] == [(1, False)]
    finally:
        docs.unpersist()


def test_compact_epoch_index_survives_rowless_epoch(spark, tmp_path):
    """Compaction merging a rowless flat epoch with real epochs must fold
    it in as empty (explicit schema) and still MIN-merge correctly."""
    from otlp2parquet_spark.streaming import pipeline as P

    state = str(tmp_path / "state")
    hashes = os.path.join(state, "hashes")
    for e, rows in ((0, [("h1", 1)]), (1, [("h1", 5), ("h2", 6)])):
        spark.createDataFrame(rows, "h string, first_id long").write.mode(
            "overwrite"
        ).parquet(os.path.join(hashes, f"epoch={e}"))
    _success_only(os.path.join(hashes, "epoch=2"))
    # newest epoch (3) is never merged; epochs 0-2 consolidate
    spark.createDataFrame([("h3", 9)], "h string, first_id long").write.mode(
        "overwrite"
    ).parquet(os.path.join(hashes, "epoch=3"))
    assert P.compact_hash_index(spark, state) == 2
    merged = (
        spark.read.schema("h string, first_id long")
        .parquet(*P._epoch_leaves(os.path.join(hashes, "epoch=-1")))
        .collect()
    )
    assert {(r.h, r.first_id) for r in merged} == {("h1", 1), ("h2", 6)}


# ---------------------------------------------------------------------------
# epoch-union verdict tables (CLI summaries / compact_epochs)


def test_first_epoch_rows_resolves_redelivery_to_first_verdict(spark):
    """The r11 ADVICE nondeterminism: a doc re-delivered in a later epoch
    carries a DIFFERENT verdict; the summary/compaction resolver must keep
    the min-epoch row deterministically."""
    from otlp2parquet_spark.streaming.pipeline import first_epoch_rows

    df = spark.createDataFrame(
        [
            (1, True, 0),
            (1, False, 5),  # re-delivery: flagged duplicate the second time
            (2, True, 5),
            (2, True, -1),  # compacted (negative) epoch wins over live
        ],
        "doc_id long, k1 boolean, epoch int",
    )
    rows = {r.doc_id: r.k1 for r in first_epoch_rows(df, ("doc_id",)).collect()}
    assert rows == {1: True, 2: True}
    assert "epoch" not in first_epoch_rows(df, ("doc_id",)).columns


def test_compact_union_epochs_keeps_first_verdict(spark, tmp_path):
    """compact_epochs must bake in the FIRST epoch's verdict when a
    key appears in multiple epochs with different content (re-delivery),
    not an arbitrary winner."""
    from otlp2parquet_spark.streaming.pipeline import compact_epochs

    table = str(tmp_path / "verdicts")
    for e, rows in (
        (0, [(1, True)]),
        (1, [(1, False), (2, True)]),  # doc 1 re-delivered, now a dup
        (2, [(3, True)]),  # newest: untouched by compaction
    ):
        spark.createDataFrame(rows, "doc_id long, keep boolean").write.mode(
            "overwrite"
        ).parquet(os.path.join(table, f"epoch={e}"))
    removed = compact_epochs(
        spark, table, key_cols=("doc_id",), sort_cols=("doc_id",)
    )
    assert removed == 1
    merged = {
        r.doc_id: r.keep
        for r in spark.read.schema("doc_id long, keep boolean")
        .parquet(os.path.join(table, "epoch=-1"))
        .collect()
    }
    assert merged == {1: True, 2: True}  # doc 1 keeps its FIRST verdict


# ---------------------------------------------------------------------------
# train-on-degenerate-corpus: the OTHER half of the contract — training on
# an empty/sub-minimal corpus must yield a deployable keep-all/score-zero
# artifact or a DOCUMENTED loud error, never an inference crash downstream.


def _empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_qc_train_on_empty_corpus_deploys_keep_all(spark):
    """Training the quality classifier on zero docs yields the all-zero
    weight vector; deploying it scores every doc z=0 -> pred=1 (keep-all,
    the safe default for a filter with no signal)."""
    from otlp2parquet_spark.extensions.text import (
        _qc_features,
        qc_score,
        quality_classifier_train,
    )

    w = quality_classifier_train(_qc_features(_empty_docs(spark)))
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "lorem ipsum dolor")], "doc_id long, text string"
    )
    rows = qc_score(docs, w).collect()
    assert all(r.pred == 1 and r.z == 0 for r in rows)


def test_lm_train_on_empty_corpus_roundtrips(spark, tmp_path):
    """An empty training corpus persists a zero-type model that reads back
    (explicit schemas) with n_model == 0 — scoring against it routes every
    bigram through the unseen path, not a crash."""
    from otlp2parquet_spark.extensions.text import lm_read_model, lm_write_model

    path = str(tmp_path / "lm_empty")
    lm_write_model(_empty_docs(spark).select("doc_id", "text", "source"), path)
    _m, _p, _vocab, n_model, _np = lm_read_model(spark, path)
    assert n_model == 0


def test_decontam_empty_benchset_keeps_all(spark, tmp_path):
    """An empty benchmark set scores every doc n_hits=0 / contaminated
    False — decontamination with nothing to protect keeps everything."""
    from otlp2parquet_spark.extensions.pipeline import (
        decontam_read_benchset,
        decontam_score,
        decontam_write_benchset,
    )

    path = str(tmp_path / "bench_empty")
    decontam_write_benchset(_empty_docs(spark), path)
    bench = decontam_read_benchset(spark, path)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    rows = decontam_score(docs, bench).collect()
    assert rows[0].n_hits == 0 and not rows[0].contaminated


def test_dsir_train_on_empty_corpus_raises_documented(spark):
    """DSIR's threshold is a corpus percentile: with zero docs there is no
    defensible default (a silent 0 would keep everything), so the trainer
    fails loudly — the documented contract."""
    from otlp2parquet_spark.extensions.pipeline import dsir_build_model

    with pytest.raises(ValueError, match="empty training corpus"):
        dsir_build_model(_empty_docs(spark))
