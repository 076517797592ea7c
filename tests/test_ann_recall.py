"""In-suite ANN recall gate: the score-based recall@k of
tests/ann_recall_util.py, run every CI pass on a SMALL duplicate-heavy
replica (10x sf0.01), so a recall regression in any ANN family fails the
suite."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from tests.ann_recall_util import build_replica, compute_recalls


@pytest.fixture(scope="module")
def recalls(spark):
    replica = tempfile.mkdtemp(prefix="annrecall_ci_")
    try:
        build_replica("/root/testdata/sf0.01", replica, 10)
        yield {r["family"]: r for r in compute_recalls(spark, replica)}
    finally:
        shutil.rmtree(replica, ignore_errors=True)


@pytest.mark.parametrize(
    "family",
    ["x3_ivf_ann", "x3_srp_ann", "x3_pq_ann", "x3_ivfpq_ann", "x3_ann_router"],
)
def test_family_recall_gates(recalls, family):
    rec = recalls[family]
    assert rec["pass"], rec
