"""bench.py's /proc/stat reader: a cpu line without the steal column must
read as "no data", not as a short list that _steal_pct indexes past."""

from __future__ import annotations

import io

import bench


def _fake_stat(monkeypatch, line: str) -> None:
    monkeypatch.setattr(bench, "open", lambda *a, **k: io.StringIO(line), raising=False)


def test_short_cpu_line_reads_as_none(monkeypatch):
    _fake_stat(monkeypatch, "cpu  10 0 5 100 0 0 1\n")  # 7 fields, no steal
    assert bench._cpu_stat() is None
    assert bench._steal_pct(bench._cpu_stat(), bench._cpu_stat()) is None


def test_full_cpu_line_reports_steal(monkeypatch):
    _fake_stat(monkeypatch, "cpu  10 0 5 100 0 0 1 4 0 0\n")
    before = bench._cpu_stat()
    assert before == [10, 0, 5, 100, 0, 0, 1, 4]
    _fake_stat(monkeypatch, "cpu  20 0 10 160 0 0 2 8 0 0\n")
    assert bench._steal_pct(before, bench._cpu_stat()) == 5.0
