"""bench.py: the /proc/stat reader (a cpu line without the steal column
must read as "no data", not as a short list that _steal_pct indexes past),
and a smoke run of main() on the smallest SF."""

from __future__ import annotations

import glob
import io
import json
import os
import subprocess
import sys

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_bench_main_smoke():
    """bench.main() finishes from this repository alone: one JSON line whose
    value is the sum of its per-query walls, no ingest keys, and no file
    left in the repo root. A subprocess keeps the shared session's confs
    untouched."""
    code = (
        "import bench\n"
        "bench.HEADLINE[:] = ['a1_tpch_q1', 'p1_project_compute']\n"
        "bench.LOAD_GATE_WAIT_S = 0\n"
        "bench.CAL_KERNEL_MB = 8\n"
        "bench.main()\n"
    )
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001"}
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout
    rec = json.loads(lines[0])
    assert set(rec["queries"]) == {"a1_tpch_q1", "p1_project_compute"}
    assert rec["value"] == round(sum(rec["queries"].values()), 3)
    assert not [k for k in rec if k.startswith("ingest_")]
    assert not glob.glob(os.path.join(REPO, "BENCH_self*.json"))
