"""x4_quality_classifier gates (the x4_bpe_train discipline applied to
distributed model training): the IPM perceptron must replay BIT-IDENTICALLY
in pure Python (exactness of the distributed kernel), be deterministic
across runs, recover a strongly-separable planted concept perfectly, and
beat the majority-class baseline when distilling the real stopword-density
rule on the driver corpus."""

from __future__ import annotations

import hashlib
import re

from otlp2parquet_spark.extensions.dedup import QUALITY_STOPWORDS
from otlp2parquet_spark.extensions.text import (
    _QC_B,
    _QC_DOCS_PER_SHARD,
    _QC_ROUNDS,
    _QC_SHARDS,
    _qc_trunc_div,
    qc_shards_for,
)
from otlp2parquet_spark.queries.registry import all_specs

SPECS = all_specs()
SF = "/root/testdata/sf0.001"


def _py_norm_tokens(text: str) -> list[str]:
    t = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip()
    return [w for w in t.split(" ") if w]


def _py_bucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % _QC_B


def _py_docs(rows):
    """(doc_id, {bucket: cnt}, y) triples — the reference feature builder."""
    out = []
    for doc_id, text in rows:
        toks = _py_norm_tokens(text)
        cnts: dict[int, int] = {}
        for t in toks:
            b = _py_bucket(t)
            cnts[b] = cnts.get(b, 0) + 1
        n_stop = sum(1 for t in toks if t in QUALITY_STOPWORDS)
        y = 1 if 10 * n_stop >= len(toks) else 0
        out.append((doc_id, cnts, y))
    return out


def _py_z(cnts, w):
    return sum(c * w[b] for b, c in cnts.items()) + w[_QC_B]


def _py_ipm_train(docs, rounds=_QC_ROUNDS, shards=_QC_SHARDS):
    """Pure-Python IPM reference: per round, each shard runs one sequential
    perceptron epoch in doc_id order from the mixed weights; mixing is the
    truncated mean over the FULL pinned shard count (empty shards
    contribute the pre-round weights) — mirroring quality_classifier_train
    exactly."""
    by_shard: dict[int, list] = {}
    for d in sorted(docs):
        by_shard.setdefault(d[0] % shards, []).append(d)
    w = [0] * (_QC_B + 1)
    for _ in range(rounds):
        acc = [0] * (_QC_B + 1)
        n_seen = 0
        for s in sorted(by_shard):
            lw = list(w)
            for _doc_id, cnts, y in by_shard[s]:
                pred = 1 if _py_z(cnts, lw) >= 0 else 0
                if pred != y:
                    sg = y - pred
                    for b, c in cnts.items():
                        lw[b] += sg * c
                    lw[_QC_B] += sg
            for i in range(_QC_B + 1):
                acc[i] += lw[i]
            n_seen += 1
        for _ in range(shards - n_seen):
            for i in range(_QC_B + 1):
                acc[i] += w[i]
        w = [_qc_trunc_div(acc[i], shards) for i in range(_QC_B + 1)]
    return w


def test_ipm_replay_bit_identical_and_beats_majority(spark, duck):
    """The distributed training run must produce EXACTLY the pure-Python
    reference's scores — same weights, same integer z per doc, same
    verdicts — and the learned model must beat the majority-class baseline
    on the training split (it distills a real rule, not the prior)."""
    got = {
        r.doc_id: (r.y, r.is_train, r.z, r.pred)
        for r in SPECS["x4_quality_classifier"].build(spark, SF).collect()
    }
    rows = duck.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    docs = _py_docs(rows)
    w = _py_ipm_train([d for d in docs if d[0] % 5 != 0])
    assert len(got) == len(docs)
    for doc_id, cnts, y in docs:
        z = _py_z(cnts, w)
        assert got[doc_id] == (y, doc_id % 5 != 0, z, 1 if z >= 0 else 0), doc_id
    train = [(got[d][0], got[d][3]) for d, c, y in docs if d % 5 != 0]
    acc = sum(y == p for y, p in train) / len(train)
    majority = max(sum(y for y, _ in train), len(train) - sum(y for y, _ in train)) / len(train)
    assert acc >= majority + 0.03, (acc, majority)
    held = [(got[d][0], got[d][3]) for d, c, y in docs if d % 5 == 0]
    held_acc = sum(y == p for y, p in held) / len(held)
    assert held_acc >= 0.9, held_acc


def test_training_is_deterministic_across_runs(spark):
    """Two independent builds (fresh lineage, fresh shuffles) must agree
    bit-for-bit — integer arithmetic end to end, shard-sorted epochs, and
    the pinned mix make partitioning invisible."""
    a = sorted(map(tuple, SPECS["x4_quality_classifier"].build(spark, SF).collect()))
    b = sorted(map(tuple, SPECS["x4_quality_classifier"].build(spark, SF).collect()))
    assert a == b


def test_recovers_planted_concept(spark, tmp_path):
    """On a strongly-separable planted corpus (stopword-dense vs
    stopword-free vocab pools) the classifier must reach perfect accuracy,
    held-out split included — the machinery-recovers-a-known-concept gate
    (the driver corpus's thin-margin rule only supports a beats-majority
    gate; this one proves the trainer actually converges)."""
    stopful = "the a and of to " * 10
    content = "rock paper stone cloth iron copper zinc lead " * 5
    rows = []
    for i in range(60):
        rows.append((i, stopful if i % 2 == 0 else content, "en", f"src{i % 4}", 0))
    import pandas as pd  # noqa: F401 (ensures pandas present for parquet write)

    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = SPECS["x4_quality_classifier"].build(spark, str(tmp_path)).collect()
    assert len(out) == 60
    for r in out:
        assert r.y == (1 if r.doc_id % 2 == 0 else 0)
        assert r.pred == r.y, (r.doc_id, r.z)


def test_shard_count_derives_from_corpus_size():
    """qc_shards_for is the _semantic_k medicine applied to IPM sharding:
    anchor fixtures keep the historical pinned 8, larger corpora derive
    ceil(n / budget) so the per-shard sequential epoch stays bounded."""
    cap = _QC_SHARDS * _QC_DOCS_PER_SHARD  # largest corpus still at 8
    assert qc_shards_for(0) == _QC_SHARDS
    assert qc_shards_for(500) == _QC_SHARDS  # sf0.001 / sf0.01 fixtures
    assert qc_shards_for(5000) == _QC_SHARDS  # sf0.1 (the bench anchor)
    assert qc_shards_for(cap) == _QC_SHARDS
    assert qc_shards_for(cap + 1) == _QC_SHARDS + 1
    assert qc_shards_for(500_000) == 200  # the 100x sf0.1 replica
    # linear-in-n: doubling the corpus doubles the shard count (and so
    # holds the per-shard critical path constant)
    assert qc_shards_for(1_000_000) == 400


def test_derived_shards_flow_through_and_replay(spark, tmp_path, monkeypatch):
    """With the per-shard budget shrunk, the registry op must DERIVE a
    shard count above the pinned floor and still replay bit-identically
    in pure Python at that derived count — proving the derivation reaches
    both the feature sharding and the mix denominator."""
    import otlp2parquet_spark.extensions.text as text_mod

    rows = []
    stopful = "the a and of to " * 3
    content = "rock paper stone cloth iron copper zinc lead " * 2
    for i in range(60):
        rows.append((i, stopful if i % 2 == 0 else content, "en", f"src{i % 4}", 0))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    monkeypatch.setattr(text_mod, "_QC_DOCS_PER_SHARD", 4)
    derived = qc_shards_for(60)
    assert derived == 15  # above the pinned floor
    got = {
        r.doc_id: (r.y, r.z, r.pred)
        for r in SPECS["x4_quality_classifier"].build(spark, str(tmp_path)).collect()
    }
    docs = _py_docs([(i, t) for i, t, *_ in rows])
    w = _py_ipm_train([d for d in docs if d[0] % 5 != 0], shards=derived)
    for doc_id, cnts, y in docs:
        z = _py_z(cnts, w)
        assert got[doc_id] == (y, z, 1 if z >= 0 else 0), doc_id
    # and the derived count differs from the pinned-8 model somewhere,
    # i.e. this test would catch a derivation that silently stayed at 8
    w8 = _py_ipm_train([d for d in docs if d[0] % 5 != 0], shards=_QC_SHARDS)
    assert w != w8


def test_model_meta_stamps_shards_and_legacy_layout_reads(spark, tmp_path):
    """qc_write_model stamps (shards, rounds) into the artifact;
    qc_read_model round-trips the new weights/ layout AND the legacy
    flat layout, and qc_read_meta reports pinned defaults for legacy."""
    from otlp2parquet_spark.extensions.text import (
        qc_read_meta,
        qc_read_model,
        qc_write_model,
    )

    w = [i % 7 - 3 for i in range(_QC_B + 1)]
    new_path = str(tmp_path / "model_new")
    qc_write_model(spark, w, new_path, shards=200, rounds=5)
    assert qc_read_model(spark, new_path) == w
    assert qc_read_meta(spark, new_path) == {"shards": 200, "rounds": 5}
    # legacy: flat (bk, wv) part files directly under path
    legacy = str(tmp_path / "model_legacy")
    spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(w)], "bk long, wv long"
    ).coalesce(1).write.mode("overwrite").parquet(legacy)
    assert qc_read_model(spark, legacy) == w
    assert qc_read_meta(spark, legacy) == {
        "shards": _QC_SHARDS,
        "rounds": _QC_ROUNDS,
    }


def test_tokenless_docs_survive_training_and_scoring(spark, tmp_path):
    """Docs whose text normalizes to zero tokens must flow through both
    training and scoring (explode_outer keeps their sentinel row) and
    match the pure-Python reference exactly — a plain explode silently
    dropped them (round-8 self-review)."""
    rows = [
        (0, "", "en", "src0", 0),  # empty text
        (1, "!!! ... ???", "en", "src1", 0),  # normalizes to zero tokens
        (2, "the a and of to the a", "en", "src0", 0),
        (3, "rock paper stone cloth iron", "en", "src1", 0),
        (4, "the of to and a the of", "en", "src2", 0),
        (5, "copper zinc lead iron rock", "en", "src3", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.y, r.z, r.pred)
        for r in SPECS["x4_quality_classifier"].build(spark, str(tmp_path)).collect()
    }
    assert set(got) == {0, 1, 2, 3, 4, 5}  # nothing dropped
    docs = _py_docs([(i, t) for i, t, *_ in rows])
    w = _py_ipm_train([d for d in docs if d[0] % 5 != 0])
    for doc_id, cnts, y in docs:
        z = _py_z(cnts, w)
        assert got[doc_id] == (y, z, 1 if z >= 0 else 0), doc_id
    # tokenless docs score exactly the bias with the y = 1 vacuous label
    assert got[0] == (1, w[-1], 1 if w[-1] >= 0 else 0)
    assert got[1] == got[0]
