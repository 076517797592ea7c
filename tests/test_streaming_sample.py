"""T23 gates: the bounded-state streaming uniform sample. The newest
sample epoch must be BIT-IDENTICAL to the t23_stream_sample batch twin
over the union of the inputs — across micro-batch slicings, arrival
ORDERS (the sample is a pure function of the doc set), a crash replay,
and snapshot compaction.
"""

from __future__ import annotations

import os

from otlp2parquet_spark.queries.registry import all_specs
from otlp2parquet_spark.session import load_table
from otlp2parquet_spark.streaming.pipeline import (
    SAMPLE_K,
    _epochs,
    compact_sample_state,
    make_sample_flush,
)

SF = "/root/testdata/sf0.001"
_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _docs(spark, n=300):
    return (
        load_table(spark, SF, "documents")
        .orderBy("doc_id")
        .limit(n)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


def _latest_sample(spark, state):
    sample_dir = os.path.join(state, "sample")
    e = _epochs(sample_dir)[-1]
    return sorted(
        map(
            tuple,
            spark.read.schema("doc_id long, hv string")
            .parquet(os.path.join(sample_dir, f"epoch={e}"))
            .collect(),
        )
    )


def _want(spark, docs):
    import hashlib

    keyed = sorted(
        (hashlib.md5(str(r.doc_id).encode()).hexdigest(), r.doc_id)
        for r in docs.select("doc_id").collect()
    )
    return sorted((did, hv) for hv, did in keyed[:SAMPLE_K])


def test_sample_live_equals_batch_across_slicings_and_orders(spark, tmp_path):
    docs = _docs(spark)
    want = _want(spark, docs)
    assert len(want) == SAMPLE_K  # corpus bigger than K: the merge matters
    rows = docs.collect()
    arrivals = {
        "inorder_3": (sorted(rows, key=lambda r: r.doc_id), 3),
        "reversed_5": (sorted(rows, key=lambda r: -r.doc_id), 5),
        "one_batch": (rows, 1),
    }
    for tag, (ordered, n_batches) in arrivals.items():
        state = str(tmp_path / f"state_{tag}")
        os.makedirs(state, exist_ok=True)
        flush = make_sample_flush(spark, state)
        per = (len(ordered) + n_batches - 1) // n_batches
        for i in range(n_batches):
            chunk = ordered[i * per : (i + 1) * per]
            if chunk:
                flush(spark.createDataFrame(chunk, _SCHEMA), i)
        assert _latest_sample(spark, state) == want, tag
    # the registry twin agrees with the pure-Python spec on the full table
    full = load_table(spark, SF, "documents")
    got = sorted(
        map(tuple, all_specs()["t23_stream_sample"].build(spark, SF).collect())
    )
    assert got == _want(spark, full)


def test_sample_replay_and_compaction(spark, tmp_path):
    docs = _docs(spark, n=200)
    want = _want(spark, docs)
    rows = docs.collect()
    state = str(tmp_path / "state")
    os.makedirs(state, exist_ok=True)
    flush = make_sample_flush(spark, state)
    per = (len(rows) + 2) // 3
    chunks = [rows[i * per : (i + 1) * per] for i in range(3)]
    for i, c in enumerate(chunks):
        flush(spark.createDataFrame(c, _SCHEMA), i)
    # crash replay of the middle epoch: reads its own predecessor,
    # overwrites exactly itself; the final snapshot is untouched
    flush(spark.createDataFrame(chunks[1], _SCHEMA), 1)
    assert _latest_sample(spark, state) == want
    # snapshot compaction deletes superseded epochs, keeps the newest
    removed = compact_sample_state(spark, state)
    assert removed == 2
    assert _epochs(os.path.join(state, "sample")) == [2]
    assert _latest_sample(spark, state) == want
    # a post-compaction epoch merges from the surviving snapshot
    extra = [(999_999, "omega", "en", "s", 5)]
    flush(spark.createDataFrame(extra, _SCHEMA), 3)
    import hashlib

    all_ids = [r.doc_id for r in rows] + [999_999]
    keyed = sorted((hashlib.md5(str(i).encode()).hexdigest(), i) for i in all_ids)
    assert _latest_sample(spark, state) == sorted(
        (did, hv) for hv, did in keyed[:SAMPLE_K]
    )
