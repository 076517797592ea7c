"""Characterization of the CLI surface, with no Spark session: every
subcommand's arguments as the parser declares them, and the exit codes a
subcommand returns before it would start a session.

Each subcommand maps to (help digest, arguments). An argument is
(dest, option strings, required, default, choices, type name, nargs); the
digest is a sha256 prefix over the subcommand's help and each argument's
help and metavar, so a reworded help string shows here too. The global
flags are not pinned."""

from __future__ import annotations

import argparse
import hashlib
import json

import pytest

from otlp2parquet_spark import cli

_SURFACE = {
    "ingest": ("76273c04e2ff", [
        ("landing_dir", (), True, None, None, None, None),
        ("signal", (), True, None, ("logs", "traces", "metrics"), None, None),
        ("quarantine", ("--quarantine",), False, None, None, None, None),
    ]),
    "stream": ("074f9ae81962", [
        ("landing_dir", (), True, None, None, None, None),
        ("signal", (), True, None, ("logs", "traces", "metrics"), None, None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
        ("trigger_seconds", ("--trigger-seconds",), False, 5.0, None, "float", None),
        ("available_now", ("--available-now",), False, False, None, None, 0),
        ("quarantine", ("--quarantine",), False, None, None, None, None),
    ]),
    "connect": ("7d8268593373", [
        ("service", (), True, None, None, None, None),
        ("url", ("--url",), False, None, None, None, None),
    ]),
    "serve": ("658c1deeec29", [
        ("landing_root", (), True, None, None, None, None),
        ("host", ("--host",), False, "0.0.0.0", None, None, None),
    ]),
    "compact": ("04c703d95e9f", [
        ("table", (), True, None, None, None, None),
        ("min_files", ("--min-files",), False, 2, None, "int", None),
        ("quiesced_sec", ("--quiesced-sec",), False, 120.0, None, "float", None),
        ("force", ("--force",), False, False, None, None, 0),
    ]),
    "neardup": ("e3680ab119fb", [
        ("landing_dir", (), True, None, None, None, None),
        ("state", ("--state",), True, None, None, None, None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
        ("compact_index", ("--compact-index",), False, False, None, None, 0),
    ]),
    "xdedup": ("306acc6ab49d", [
        ("landing_dir", (), True, None, None, None, None),
        ("state", ("--state",), True, None, None, None, None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
        ("compact_index", ("--compact-index",), False, False, None, None, 0),
    ]),
    "hh": ("ef41f6aad30c", [
        ("landing_dir", (), True, None, None, None, None),
        ("state", ("--state",), True, None, None, None, None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
        ("compact_state", ("--compact-state",), False, False, None, None, 0),
        ("top", ("--top",), False, 10, None, "int", None),
    ]),
    "annindex": ("7b8c566838aa", [
        ("landing_dir", (), True, None, None, None, None),
        ("index", ("--index",), True, None, None, None, None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
        ("compact_codes", ("--compact-codes",), False, False, None, None, 0),
    ]),
    "dsirtrain": ("0d0c4b50494e", [
        ("corpus_dir", (), True, None, None, None, None),
        ("model", ("--model",), True, None, None, None, None),
    ]),
    "dsirselect": ("c3b1805be900", [
        ("landing_dir", (), True, None, None, None, None),
        ("model", ("--model",), True, None, None, None, None),
        ("out", ("--out",), True, None, None, None, None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
        ("compact", ("--compact",), False, False, None, None, 0),
    ]),
    "badmit": ("0d68b7afa541", [
        ("landing_dir", (), True, None, None, None, None),
        ("state", ("--state",), True, None, None, None, None),
        ("budget", ("--budget",), True, None, None, "_positive_int", None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
        ("compact", ("--compact",), False, False, None, None, 0),
    ]),
    "qtrain": ("b4eebf2efa30", [
        ("corpus_dir", (), True, None, None, None, None),
        ("model", ("--model",), True, None, None, None, None),
        ("rounds", ("--rounds",), False, None, None, "_positive_int", None),
    ]),
    "qscore": ("e8cfe8af4b53", [
        ("landing_dir", (), True, None, None, None, None),
        ("model", ("--model",), True, None, None, None, None),
        ("out", ("--out",), True, None, None, None, None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
        ("compact", ("--compact",), False, False, None, None, 0),
    ]),
    "dctrain": ("fc431a411042", [
        ("bench_dir", (), True, None, None, None, None),
        ("benchset", ("--benchset",), True, None, None, None, None),
    ]),
    "dcscore": ("cb7cc67f3f7d", [
        ("landing_dir", (), True, None, None, None, None),
        ("benchset", ("--benchset",), True, None, None, None, None),
        ("out", ("--out",), True, None, None, None, None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
        ("compact", ("--compact",), False, False, None, None, 0),
    ]),
    "lmtrain": ("dc53a16af1da", [
        ("corpus_dir", (), True, None, None, None, None),
        ("model", ("--model",), True, None, None, None, None),
    ]),
    "lmscore": ("b76ccc5d402f", [
        ("landing_dir", (), True, None, None, None, None),
        ("model", ("--model",), True, None, None, None, None),
        ("out", ("--out",), True, None, None, None, None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
        ("compact", ("--compact",), False, False, None, None, 0),
    ]),
    "funnel": ("e669104f6c3d", [
        ("landing_dir", (), True, None, None, None, None),
        ("state", ("--state",), True, None, None, None, None),
        ("qc_model", ("--qc-model",), False, None, None, None, None),
        ("benchset", ("--benchset",), True, None, None, None, None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
        ("compact", ("--compact",), False, False, None, None, 0),
    ]),
    "zorder": ("9b0486d62d3d", [
        ("input_dir", (), True, None, None, None, None),
        ("output_dir", (), True, None, None, None, None),
        ("by", ("--by",), True, None, None, None, None),
        ("files", ("--files",), False, 32, None, "int", None),
    ]),
    "wp95": ("62875bf2d96d", [
        ("landing_dir", (), True, None, None, None, None),
        ("out", ("--out",), True, None, None, None, None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
    ]),
    "whll": ("b65c55b537b7", [
        ("landing_dir", (), True, None, None, None, None),
        ("out", ("--out",), True, None, None, None, None),
        ("checkpoint", ("--checkpoint",), True, None, None, None, None),
    ]),
    "validate-config": ("66e500db4450", [
    ]),
}


def _subparsers() -> tuple[argparse.Action, dict[str, argparse.ArgumentParser]]:
    parser = cli._build_parser()
    sub = next(a for a in parser._actions if isinstance(a, argparse._SubParsersAction))
    return sub, sub.choices


def _declared(name: str) -> tuple:
    sub, choices = _subparsers()
    helps = {c.dest: c.help for c in sub._choices_actions}
    acts = [a for a in choices[name]._actions if not isinstance(a, argparse._HelpAction)]
    digest = hashlib.sha256(
        json.dumps([helps.get(name), [(a.help, a.metavar) for a in acts]]).encode()
    ).hexdigest()[:12]
    return digest, [
        (
            a.dest,
            tuple(a.option_strings),
            a.required,
            a.default,
            tuple(a.choices) if a.choices else None,
            getattr(a.type, "__name__", None),
            a.nargs,
        )
        for a in acts
    ]


def test_subcommands_in_order():
    assert list(_subparsers()[1]) == list(_SURFACE)


@pytest.mark.parametrize("name", list(_SURFACE))
def test_subcommand_arguments(name):
    assert _declared(name) == _SURFACE[name]


def test_connect_unknown_service_exits_2(capsys):
    assert cli.main(["connect", "bogus"]) == 2
    err = capsys.readouterr().err
    assert err.startswith("error: unknown connect target")


def test_config_error_exits_2_before_a_session(monkeypatch, capsys, tmp_path):
    monkeypatch.setenv("OTLP2PARQUET_STORAGE_BACKEND", "gcs")
    assert cli.main(["ingest", str(tmp_path), "logs"]) == 2
    out = capsys.readouterr()
    assert out.out == ""
    assert out.err.startswith("configuration error: storage.backend must be fs|s3|r2")


def test_zorder_needs_two_columns(capsys, tmp_path):
    rc = cli.main(["zorder", str(tmp_path / "in"), str(tmp_path / "out"), "--by", "a"])
    assert rc == 2
    assert json.loads(capsys.readouterr().out) == {"error": "--by needs exactly two columns"}
