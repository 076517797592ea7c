"""Characterization of the 12 stream-lane CLI subcommands (neardup, xdedup,
hh, annindex, badmit, dsirselect, dcscore, lmscore, qscore, funnel, wp95,
whll): each runs once over tiny generated landing dirs with its compaction
flag on, and once over an empty landing dir, and must print exactly the
summary recorded here. Inputs are built in-process (no external fixtures),
three files per landing dir so that compaction has two epochs below the
newest to merge."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from otlp2parquet_spark import cli

_WORDS = (
    "the a of and to is spark merge table scan window hash join batch "
    "stream filter group order sort row column query value key data part "
    "line small big fast slow vector customer agg"
).split()
_N_FILES = 3
_DOCS_PER_FILE = 12


def _text(i: int) -> str:
    n = 8 + (i * 5) % 17
    return " ".join(_WORDS[(i * 13 + j * 7 + j * j) % len(_WORDS)] for j in range(n))


def _doc_texts() -> dict[int, str]:
    n = _N_FILES * _DOCS_PER_FILE
    texts = {i: _text(i) for i in range(n - 6)}
    # three exact copies and three one-word edits of earlier docs
    for k, src in enumerate((3, 10, 17)):
        texts[n - 6 + k] = texts[src]
    for k, src in enumerate((5, 12, 20)):
        words = texts[src].split()
        texts[n - 3 + k] = " ".join(words[:-1] + ["vector"])
    return texts


def _write_files(d: str, tables: list[pa.Table]) -> None:
    """One parquet file per table, with ascending mtimes so the file source
    lists them in a fixed order."""
    os.makedirs(d)
    for i, t in enumerate(tables):
        path = os.path.join(d, f"{i:03d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))


def _docs_table(texts: dict[int, str], ids) -> pa.Table:
    ids = list(ids)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([texts[i] for i in ids], pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array([f"src{i % 3}" for i in ids], pa.string()),
            "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
        }
    )


def _events_table(ids) -> pa.Table:
    ids = list(ids)
    base_us = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([base_us + i * 30_000_000 for i in ids], pa.timestamp("us")),
            "user_id": pa.array([i % 7 for i in ids], pa.int64()),
            "event_type": pa.array([("view", "click")[i % 2] for i in ids], pa.string()),
            "value": pa.array([0.5 + (i * 37) % 100 for i in ids], pa.float64()),
            "props": pa.array([None] * len(ids), pa.string()),
        }
    )


def _embeddings_table(ids) -> pa.Table:
    ids = list(ids)
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(
                [[((v * 31 + d * 17) % 97) / 97.0 - 0.5 for d in range(64)] for v in ids],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([v % 3 for v in ids], pa.int32()),
        }
    )


def _build_inputs(root) -> dict[str, str]:
    texts = _doc_texts()
    per = _DOCS_PER_FILE
    d = {k: str(root / k) for k in ("docs", "bench", "events", "emb", "empty")}
    files = range(_N_FILES)
    _write_files(d["docs"], [_docs_table(texts, range(f * per, (f + 1) * per)) for f in files])
    _write_files(d["bench"], [_docs_table(texts, (7, 19, 28))])
    _write_files(d["events"], [_events_table(range(f * 20, (f + 1) * 20)) for f in files])
    _write_files(d["emb"], [_embeddings_table(range(f * 16, (f + 1) * 16)) for f in files])
    os.makedirs(d["empty"])
    for argv in (
        ["qtrain", d["docs"], "--model", str(root / "qc")],
        ["dsirtrain", d["docs"], "--model", str(root / "dsir")],
        ["dctrain", d["bench"], "--benchset", str(root / "benchset")],
        ["lmtrain", d["docs"], "--model", str(root / "lm")],
    ):
        assert cli.main(argv) == 0
    d.update({k: str(root / k) for k in ("qc", "dsir", "benchset", "lm")})
    return d


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    return _build_inputs(tmp_path_factory.mktemp("cli_lanes"))


# lane -> (landing dir key, options before --checkpoint, output option,
#          summary over the full landing dir, summary over an empty one).
# "{out}" in an expected summary stands for the lane's output path.
LANES = {
    "neardup": (
        "docs", ["--compact-index"], "--state",
        {"docs_flagged_total": 36, "near_dups": 5, "index_epochs_compacted": 1,
         "flags_epochs_compacted": 1, "state": "{out}"},
        {"docs_flagged_total": 0, "near_dups": 0, "index_epochs_compacted": 0,
         "flags_epochs_compacted": 0, "state": "{out}"},
    ),
    "xdedup": (
        "docs", ["--compact-index"], "--state",
        {"docs_flagged_total": 36, "exact_dups": 3, "index_epochs_compacted": 1,
         "flags_epochs_compacted": 1, "state": "{out}"},
        {"docs_flagged_total": 0, "exact_dups": 0, "index_epochs_compacted": 0,
         "flags_epochs_compacted": 0, "state": "{out}"},
    ),
    "hh": (
        "docs", ["--compact-state", "--top", "3"], "--state",
        {"heavy_hitters": 34,
         "top": [{"token": "small", "cnt": 24}, {"token": "to", "cnt": 22},
                 {"token": "value", "cnt": 22}],
         "cands_epochs_compacted": 1, "totals_epochs_compacted": 1,
         "state": "{out}"},
        {"heavy_hitters": 0, "top": [], "cands_epochs_compacted": 0,
         "totals_epochs_compacted": 0, "state": "{out}"},
    ),
    "annindex": (
        "emb", ["--compact-codes"], "--index",
        {"vectors_encoded": 48, "code_rows": 192, "codes_epochs_compacted": 1,
         "index": "{out}"},
        {"vectors_encoded": 0, "code_rows": 0, "codes_epochs_compacted": 0,
         "index": "{out}"},
    ),
    "badmit": (
        "docs", ["--budget", "400", "--compact"], "--state",
        {"docs_seen": 36, "docs_admitted": 25, "tokens_admitted": 391,
         "budget": 400, "verdict_epochs_compacted": 1, "state": "{out}"},
        {"docs_seen": 0, "docs_admitted": 0, "tokens_admitted": 0, "budget": 400,
         "verdict_epochs_compacted": 0, "state": "{out}"},
    ),
    "dsirselect": (
        "docs", ["--model", "{dsir}", "--compact"], "--out",
        {"docs_scored": 36, "selected": 8, "verdict_epochs_compacted": 1,
         "out": "{out}"},
        {"docs_scored": 0, "selected": 0, "verdict_epochs_compacted": 0,
         "out": "{out}"},
    ),
    "dcscore": (
        "docs", ["--benchset", "{benchset}", "--compact"], "--out",
        {"docs_scored": 36, "contaminated": 3, "verdict_epochs_compacted": 1,
         "out": "{out}"},
        {"docs_scored": 0, "contaminated": 0, "verdict_epochs_compacted": 0,
         "out": "{out}"},
    ),
    "lmscore": (
        "docs", ["--model", "{lm}", "--compact"], "--out",
        {"docs_scored": 36, "mean_lm_score": -2.8573, "score_epochs_compacted": 1,
         "out": "{out}"},
        {"docs_scored": 0, "mean_lm_score": None, "score_epochs_compacted": 0,
         "out": "{out}"},
    ),
    "qscore": (
        "docs", ["--model", "{qc}", "--compact"], "--out",
        {"docs_scored": 36, "predicted_quality": 31, "score_epochs_compacted": 1,
         "out": "{out}"},
        {"docs_scored": 0, "predicted_quality": 0, "score_epochs_compacted": 0,
         "out": "{out}"},
    ),
    "funnel": (
        "docs", ["--qc-model", "{qc}", "--benchset", "{benchset}", "--compact"], "--state",
        {"docs_ingested": 36, "kept_exact": 33, "kept_neardup": 31,
         "kept_quality": 27, "kept_clean": 24,
         "compacted": {"hash_epochs": 1, "band_epochs": 1, "verdict_epochs": 1},
         "state": "{out}"},
        {"docs_ingested": 0, "kept_exact": 0, "kept_neardup": 0,
         "kept_quality": 0, "kept_clean": 0,
         "compacted": {"hash_epochs": 0, "band_epochs": 0, "verdict_epochs": 0},
         "state": "{out}"},
    ),
    "wp95": (
        "events", [], "--out",
        {"sealed_rows": 12, "windows_sealed": 6, "out": "{out}"},
        {"sealed_rows": 0, "windows_sealed": 0, "out": "{out}"},
    ),
    "whll": (
        "events", [], "--out",
        {"sealed_estimates": 12, "windows_sealed": 6, "out": "{out}"},
        {"sealed_estimates": 0, "windows_sealed": 0, "out": "{out}"},
    ),
}


def _run(
    inputs, tmp_path, capsys, lane: str, landing: str, drop: str | None = None
) -> tuple[int, str, dict]:
    """Run one lane subcommand (without option `drop`, if given); return
    (exit code, its last stdout line, the expected summary with the output
    path filled in)."""
    _, opts, out_flag, full, empty = LANES[lane]
    out = str(tmp_path / "out")
    argv = [
        lane,
        landing,
        *[o.format(**inputs) for o in opts if o != drop],
        out_flag,
        out,
        "--checkpoint",
        str(tmp_path / "ckpt"),
    ]
    capsys.readouterr()
    rc = cli.main(argv)
    line = capsys.readouterr().out.strip().splitlines()[-1]
    expected = full if landing != inputs["empty"] else empty
    return rc, line, json.loads(json.dumps(expected).replace("{out}", out))


def _check(rc: int, line: str, expected: dict) -> None:
    assert rc == 0
    assert json.loads(line) == expected
    assert line == json.dumps(expected)  # key order too


@pytest.mark.parametrize("lane", sorted(LANES))
def test_lane_summary(inputs, tmp_path, capsys, lane):
    _check(*_run(inputs, tmp_path, capsys, lane, inputs[LANES[lane][0]]))


@pytest.mark.parametrize("lane", sorted(LANES))
def test_lane_empty_landing_dir(inputs, tmp_path, capsys, lane):
    _check(*_run(inputs, tmp_path, capsys, lane, inputs["empty"]))


def test_lane_summary_without_compaction(inputs, tmp_path, capsys):
    """With its compaction option off, a lane reports zero epochs compacted."""
    rc, line, expected = _run(
        inputs, tmp_path, capsys, "qscore", inputs["docs"], drop="--compact"
    )
    _check(rc, line, {**expected, "score_epochs_compacted": 0})
