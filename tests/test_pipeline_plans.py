"""Physical-plan shape assertions for the X6 training-pipeline operators:
the properties that make them survive a 100 TB input (broadcast small sides,
map-only sampling, partial aggregation before shuffles) must be visible in
the executed plan, not just hoped for."""

from __future__ import annotations

import pytest

from otlp2parquet_spark.queries.registry import all_specs
from tests.conftest import SF_ORACLE

SPECS = all_specs()


def _plan(spark, name: str) -> str:
    df = SPECS[name].build(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_hash_sample_is_map_only(spark):
    """x6_hash_sample must not shuffle for the sampling itself: the only
    exchange allowed is the final presentation ORDER BY (rangepartitioning).
    ReadSchema must carry only (doc_id, source) — the text column never
    leaves the scan."""
    plan = _plan(spark, "x6_hash_sample")
    assert "Exchange hashpartitioning" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "source" in read_schema
    assert "text" not in read_schema


def test_data_mix_is_map_only(spark):
    """x6_data_mix: quality gate + quota sample + weight are all literal
    expressions next to the scan — the only exchange allowed is the final
    presentation ORDER BY (rangepartitioning). One pass, no row movement."""
    plan = _plan(spark, "x6_data_mix")
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_contamination_broadcasts_eval_set(spark):
    """x6_contamination joins the corpus grams against the (small by
    construction) benchmark gram set — that side must be broadcast, never
    shuffled across the corpus."""
    plan = _plan(spark, "x6_contamination")
    assert "BroadcastHashJoin" in plan


def test_tfidf_partial_aggregates(spark):
    """x6_tfidf_topk: the (doc,term) count must run as a two-phase hash
    aggregate (map-side partial combine absorbs the token explosion before
    the shuffle), and the corpus size must arrive via broadcast."""
    plan = _plan(spark, "x6_tfidf_topk")
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_seq_pack_single_window_shuffle(spark):
    """x6_seq_pack: exactly one hash exchange (the per-source window); the
    running sum itself adds no further shuffles."""
    plan = _plan(spark, "x6_seq_pack")
    # one hashpartitioning exchange for the window's partitionBy(source);
    # spread()'s round-robin and the final sort are the only other moves
    assert plan.count("Exchange hashpartitioning") == 1
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_seq_pack_sharded_no_per_source_data_window(spark):
    """x6_seq_pack_sharded: the data-sized running sum must be keyed on
    (source, shard) — never on raw source alone. The only window allowed to
    partition on bare source is the shard-base prefix sum, which runs above
    the per-shard HashAggregate (one row per shard, not per doc)."""
    plan = _plan(spark, "x6_seq_pack_sharded")
    specs = [
        seg.split(")")[0]
        for seg in plan.split("windowspecdefinition(")[1:]
    ]
    assert specs, "expected window nodes in the plan"
    data_windows = [s for s in specs if "shard" in s and "doc_id" in s]
    assert data_windows, f"no (source, shard)-keyed data window found: {specs}"
    for s in specs:
        if "doc_id" in s:  # the data-sized running sum
            assert "shard" in s, f"data window keyed on raw source: {s}"
    # shard-base offsets arrive via broadcast, not a corpus-wide shuffle join
    assert "BroadcastHashJoin" in plan


def test_seq_pack_sharded_identical_output(spark):
    """The sharded plan must reproduce x6_seq_pack's output exactly."""
    base = SPECS["x6_seq_pack"].build(spark, SF_ORACLE)
    sharded = SPECS["x6_seq_pack_sharded"].build(spark, SF_ORACLE)
    assert base.schema == sharded.schema
    assert base.exceptAll(sharded).count() == 0
    assert sharded.exceptAll(base).count() == 0


def test_fuzzy_decontam_nonvacuous_and_broadcasts(spark):
    """x6_fuzzy_decontam (r8): the sf0.01 fixture must actually produce
    contaminated training docs (the corpus carries near-dups across the
    %97 split, so an empty result would mean the op is broken, not clean),
    and the benchmark band set must reach the probe as a broadcast."""
    from otlp2parquet_spark.queries.registry import all_specs

    df = all_specs()["x6_fuzzy_decontam"].build(spark, "/root/testdata/sf0.01")
    rows = df.collect()
    assert rows and any(r.is_contaminated for r in rows)
    assert all(r.doc_id % 97 != 0 for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dsir_model_broadcasts_and_partial_aggregates(spark):
    """x6_dsir_sample (r8): the B-bounded bucket model and the one-row
    percentile threshold must both reach the corpus as broadcasts (never a
    corpus-sized shuffle join), and the (doc,bucket) count must partial-
    aggregate map-side before its shuffle. The scoring lineage is checked
    un-checkpointed (the materialization boundary otherwise hides the
    interesting subtree behind an RDD scan); the threshold broadcast is
    visible in the registry query's own final plan."""
    from otlp2parquet_spark.extensions.pipeline import _dsir_full

    lineage = (
        _dsir_full(spark, SF_ORACLE, checkpoint=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in lineage  # model join on bk
    assert "partial_count" in lineage  # (doc,bucket) map-side combine
    final = _plan(spark, "x6_dsir_sample")
    assert "BroadcastNestedLoopJoin" in final  # 1-row threshold crossJoin


def test_dsir_upweights_target_like_docs(spark, tmp_path):
    """Planted-signal gate (the synthetic driver corpus has a uniform
    vocabulary, so exactness is proven by the DuckDB oracle and MEANING is
    proven here): target-band sources draw from vocab pool A, the raw pool
    from pool B, and held-out pool-A docs planted in a NON-target source
    must outscore every pool-B doc — DSIR's defining property (importance
    weights rank target-like text first regardless of provenance)."""
    pool_a = "alpha beta gamma delta epsilon zeta eta theta"
    pool_b = "rock paper stone cloth iron copper zinc lead"
    rows = []
    for i in range(10):  # target band (src0): pool A
        rows.append((i, f"{pool_a} {pool_a}", "en", "src0", 0))
    for i in range(10, 15):  # planted A-like docs in a non-target source
        rows.append((i, f"{pool_a} {pool_a}", "en", "src1", 0))
    for i in range(15, 50):  # bulk raw pool: pool B
        rows.append((i, f"{pool_b} {pool_b}", "en", f"src{1 + i % 3}", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = SPECS["x6_dsir_sample"].build(spark, str(tmp_path)).collect()
    liw = {r.doc_id: r.liw_micro for r in out}
    keep = {r.doc_id: r.keep for r in out}
    a_like = [liw[i] for i in range(10, 15)]
    b_docs = [liw[i] for i in range(15, 50)]
    assert min(a_like) > max(b_docs)
    assert all(keep[i] for i in range(10, 15))  # planted docs survive the gate
    assert not any(keep[i] for i in range(15, 50))


def test_source_overlap_null_source_raises(spark, tmp_path):
    """A document with a NULL source must fail the query in-plan, like the
    > 64-source guard, not drop out of the source-index join."""
    rows = [
        (0, "alpha beta gamma delta", "en", "src0", 22),
        (1, "alpha beta gamma epsilon", "en", "src1", 24),
        (2, "beta gamma delta zeta", "en", None, 21),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    with pytest.raises(Exception, match="NULL source"):
        SPECS["x6_source_overlap"].build(spark, str(tmp_path)).collect()
