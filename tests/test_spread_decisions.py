"""Pin spread()'s repartition decisions (r12 verdict ask #5).

spread() decides "already wide enough?" from a cheap statistics walk
(_estimated_scan_partitions) instead of the exact-but-slow
`.rdd.getNumPartitions()` probe. The r12 form read sizeInBytes at the plan
ROOT, where column pruning shrinks the figure (spurious re-spread) and
joins/explodes inflate it (skipped spread). The r13 form walks to the leaf
relation and accepts ONLY Project/Filter-over-scan shapes; every other
shape must raise so spread() falls back to the exact probe.

These tests assert, per call-site category and at two scale factors, that
the estimate-driven partition count equals the exact probe's count for
accepted shapes, and that derived shapes are rejected (routed to the
probe) rather than estimated.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from conftest import SF_ORACLE, SF_SMOKE
from otlp2parquet_spark.session import (
    _estimated_scan_partitions,
    load_table,
    spread,
)

SFS = [SF_SMOKE, SF_ORACLE]


def _exact(df) -> int:
    return df.rdd.getNumPartitions()


@pytest.mark.parametrize("sf_dir", SFS)
@pytest.mark.parametrize("table", ["documents", "lineitem", "embeddings"])
def test_leaf_scan_estimate_matches_probe(spark, sf_dir, table):
    """Category 1 — bare scans (the dominant call-site shape: spread(T(...)))."""
    df = load_table(spark, sf_dir, table)
    assert _estimated_scan_partitions(df) == _exact(df)


@pytest.mark.parametrize("sf_dir", SFS)
def test_projected_scan_estimate_matches_probe(spark, sf_dir):
    """Category 2 — column-pruned projection over a scan (a1's
    spread(li.select(...)) shape). The r12 root-stats form underestimated
    here by the pruned-columns ratio; the leaf walk must see FILE bytes."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_discount"
    )
    assert _estimated_scan_partitions(li) == _exact(li)


@pytest.mark.parametrize("sf_dir", [SF_SMOKE])
def test_filtered_scan_estimate_matches_probe(spark, sf_dir):
    """Category 3 — post-filter scans (the multimodal doc_id % 3 shape).
    Pushed filters do not change split planning, so the leaf size is still
    exact for the partition COUNT."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    assert _estimated_scan_partitions(d) == _exact(d)


@pytest.mark.parametrize(
    "shape",
    ["join", "aggregate", "explode", "union"],
)
def test_derived_frames_rejected(spark, shape):
    """Categories 4-7 — post-join / post-aggregate / post-explode / union
    frames must NOT be estimated from statistics (join inflation and
    aggregate shrinkage diverge arbitrarily from real partition counts):
    the walk raises and spread() uses the exact probe."""
    d = load_table(spark, SF_SMOKE, "documents")
    if shape == "join":
        df = d.join(d.select("doc_id"), "doc_id")
    elif shape == "aggregate":
        df = d.groupBy("source").count()
    elif shape == "explode":
        df = d.select(F.explode(F.split("text", " ")))
    else:
        df = d.select("doc_id").union(d.select("doc_id"))
    with pytest.raises(Exception):
        _estimated_scan_partitions(df)
    # and the public API still answers (fallback path)
    assert spread(df).rdd.getNumPartitions() >= 1


def test_spread_decision_unchanged_on_narrow_scan(spark):
    """A 1-3 partition dimension scan must still be spread to cluster
    parallelism (the decision the estimate feeds)."""
    d = load_table(spark, SF_SMOKE, "documents")
    target = spark.sparkContext.defaultParallelism
    assert spread(d).rdd.getNumPartitions() >= min(
        target, max(_exact(d), target)
    ) or _exact(d) >= target


def test_estimator_fault_propagates(spark, monkeypatch):
    """Only the estimator's "not a leaf scan" ValueError routes to the
    exact probe; any other fault must surface, not become a silent
    fallback."""
    import otlp2parquet_spark.session as session

    def broken(df):
        raise RuntimeError("estimator fault")

    monkeypatch.setattr(session, "_estimated_scan_partitions", broken)
    with pytest.raises(RuntimeError, match="estimator fault"):
        spread(load_table(spark, SF_SMOKE, "documents"))
