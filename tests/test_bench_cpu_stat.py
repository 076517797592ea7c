"""bench.py: a missing steal sample reads as null, not as a quiet 0.0, and a
smoke run of a two-query subset on the smallest SF."""

from __future__ import annotations

import glob
import io
import json
import os
import subprocess
import sys

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_short_cpu_line_reads_as_none(monkeypatch):
    """A cpu line without the steal column (7 fields) is no sample: bench
    prints null steal where perfbench.noise.steal_pct would give 0.0."""
    stat = lambda *a, **k: io.StringIO("cpu  10 0 5 100 0 0 1\n")  # noqa: E731
    monkeypatch.setattr(bench.noise, "open", stat, raising=False)
    assert bench.noise.steal_pct(bench.noise.cpu_times(), bench.noise.cpu_times()) == 0.0
    assert bench._steal(bench.noise.cpu_times()) is None


def test_bench_main_smoke():
    """`python bench.py a1_tpch_q1 p1_project_compute` finishes from this
    repository alone: one JSON line marked as a subset, holding only those
    two queries, whose value is the sum of their walls; each query's build
    and exec spans tile its wall, and it carries its own steal/load stamp."""
    names = ["a1_tpch_q1", "p1_project_compute"]
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_LOAD_WAIT_S": "0",
    }
    proc = subprocess.run(
        [sys.executable, "bench.py", *names],
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
    assert "subset" in rec["metric"]
    assert set(rec["queries"]) == set(rec["layers"]) == set(rec["noise"]) == set(names)
    assert rec["value"] == round(sum(rec["queries"].values()), 3)
    for name, wall in rec["queries"].items():
        layers = rec["layers"][name]
        assert abs(layers["build_s"] + layers["exec_s"] - wall) <= 0.05 * wall, (name, layers)
        assert layers["jobs"] >= 1
        assert set(rec["noise"][name]) == {"steal_pct", "load_1m"}
    assert not glob.glob(os.path.join(REPO, "BENCH_self*.json"))
