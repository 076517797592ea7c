"""Score-based recall@k for the ANN families, over an Fx offset replica.

Replica structure: plain replication makes every base vector appear F
times (offset vec_ids, identical embeddings), a duplicate-heavy corpus,
the regime real crawl embeddings are in. Exact top-k under F-fold ties is
id-ambiguous, so recall is SCORE-based (standard for tie-heavy corpora):
    recall@k(q) = |{a in approx_topk(q) : cos(a) >= kth exact cos(q)}| / k
with the cosines ROUND(·,4)-pinned like the operators themselves.
"""

from __future__ import annotations

import os

ID_SPAN = 10_000_000

# (family, its emitted top-k, its score column: cosine desc / L2^2 asc)
FAMILIES = [
    ("x3_ivf_ann", 5, "cos_sim"),
    ("x3_srp_ann", 5, "cos_sim"),
    ("x3_pq_ann", 10, "l2_sq"),
    ("x3_ivfpq_ann", 10, "l2_sq"),
    ("x3_ann_router", 5, "cos_sim"),
]

GATE = 0.8


def build_replica(base: str, out: str, factor: int) -> None:
    """Write an Fx replica of `embeddings` (the only table the ANN families
    read) into `out`: one part file per replica, so Fx data comes with Fx
    scan splits as in production, and vec_id offset by k*ID_SPAN in
    replica k so replicated rows stay distinct. Other tables are symlinked."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    for fn in os.listdir(base):
        if fn.endswith(".parquet") and fn != "embeddings.parquet":
            os.symlink(os.path.join(base, fn), os.path.join(out, fn))
    t = pq.read_table(os.path.join(base, "embeddings.parquet"))
    dst = os.path.join(out, "embeddings.parquet")
    os.makedirs(dst)
    i = t.schema.get_field_index("vec_id")
    for k in range(factor):
        ids = pc.add(t.column(i), k * ID_SPAN)
        pq.write_table(
            t.set_column(i, "vec_id", ids), os.path.join(dst, f"part-{k:03d}.parquet")
        )


def compute_recalls(spark, replica: str) -> list[dict]:
    """Score-based recall@k per ANN family over `replica` (see module
    docstring for the tie-robust definition)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from otlp2parquet_spark.extensions.similarity import cosine_expr
    from otlp2parquet_spark.queries.registry import all_specs
    from otlp2parquet_spark.session import load_table

    specs = all_specs()

    # exact per-query k-th best score for BOTH metrics (cosine desc, L2^2
    # asc), brute force over the full replica — 5 broadcast queries x F*n
    # corpus rows, one pass each
    kmax = max(k for _, k, _ in FAMILIES)
    e = load_table(spark, replica, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    l2_expr = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("q_emb"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_expr(F.col("embedding"), F.col("q_emb")).alias("cos_raw"),
        l2_expr.alias("l2_raw"),
    )
    kth: dict = {}  # (metric, q_id, rank) -> exact score
    for metric, order in (
        ("cos_sim", (F.desc("cos_raw"), F.asc("neighbor_id"))),
        ("l2_sq", (F.asc("l2_raw"), F.asc("neighbor_id"))),
    ):
        w = Window.partitionBy("q_id").orderBy(*order)
        col = "cos_raw" if metric == "cos_sim" else "l2_raw"
        for r in (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= kmax)
            .select("q_id", "rank", F.round(col, 4).alias("s"))
            .collect()
        ):
            kth[(metric, r.q_id, r.rank)] = float(r.s)

    out = []
    for family, k, metric in FAMILIES:
        rows = specs[family].build(spark, replica).collect()
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r.q_id, []).append(float(r[metric]))
        asc = metric == "l2_sq"
        recalls = []
        for q_id in sorted({qk for m, qk, _ in kth if m == metric}):
            thr = kth.get((metric, q_id, k))
            if thr is None:
                continue
            scores = sorted(by_q.get(q_id, []), reverse=not asc)[:k]
            hit = (lambda s: s <= thr) if asc else (lambda s: s >= thr)
            recalls.append(sum(1 for s in scores if hit(s)) / k)
        recall = sum(recalls) / len(recalls) if recalls else 0.0
        out.append(
            {
                "family": family,
                "k": k,
                "recall_at_k": round(recall, 4),
                "gate": GATE,
                "pass": recall >= GATE,
            }
        )
    return out
