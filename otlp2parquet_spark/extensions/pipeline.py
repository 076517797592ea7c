"""Training-data pipeline operators beyond the reference's own surface:
deterministic sampling, TF-IDF keyword extraction, benchmark-contamination
detection, and pretraining sequence packing.

These are the "large-scale training-data pipeline" operator family — each is
a first-class `queries()` entry with a DuckDB oracle over the synthetic
`documents` table, and each is written for the 100 TB shape of the problem
(map-only where possible, two-phase aggregation, broadcast-able small sides,
integer/quantized outputs for cross-engine determinism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from otlp2parquet_spark.extensions.dedup import (
    _CC_SQL_CTES,
    _MHFS_BANDS,
    _MHFS_MINS,
    SQL_NORM,
    SQL_QUALITY_FEAT,
    SQL_QUALITY_PASSES,
    cluster_assignments,
    gram3_expr,
    normalized_text,
    quality_feature_exprs,
    token_count_expr,
    with_tokens,
)
from otlp2parquet_spark.queries.registry import T, query
from otlp2parquet_spark.session import spread

# 4-dp quantization via integer math: bit-identical IEEE ops in Spark and
# DuckDB (double->DECIMAL casts diverge on repr rules; see dedup.py)
_Q4 = "FLOOR({x} * 10000.0 + 0.5) / 10000.0"


from otlp2parquet_spark.queries.relational import quant4 as _q4  # canonical 4-dp quantizer


def mix_bucket_expr(n_buckets: int = 1000):
    """Content-addressed (source, doc_id) md5 bucket — THE sampling
    primitive shared by x6_data_mix and x6_e2e_pipeline (one definition so
    the fused pipeline provably applies the standalone operator's exact
    keep/drop decision)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("source"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % n_buckets
    )


# ---------------------------------------------------------------------------
# x6_hash_sample — deterministic stratified sampling


@query(
    "x6_hash_sample",
    oracle=f"""
    SELECT doc_id, source,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
             AS bucket
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
    ORDER BY doc_id
    """,
    tags=("X6", "P2", "F6"),
)
def x6_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample via content-addressed bucketing.

    `sample()`/`rand()` are seed- and partitioning-dependent; hashing the
    key (md5 — the only hash both engines share bit-for-bit) into 100
    buckets gives a sample that is reproducible across engines, runs, and
    cluster layouts, and composes with incremental ingest (a doc's bucket
    never changes). Map-only: no shuffle, predicate stays next to the scan,
    so at 100 TB this is a single pass that reads only (doc_id, source).

    Return contract: rows are ordered by doc_id only WITHIN each partition
    (sortWithinPartitions), not globally — a global ORDER BY would add an
    all-to-all range shuffle and re-execute the narrow child for range
    sampling. Callers needing a total order must sort the (much smaller)
    sample themselves; the oracle's ORDER BY is presentation-only (the
    driver's hash is row-order-insensitive)."""
    d = T(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return (
        d.select("doc_id", "source", bucket.alias("bucket"))
        .filter(F.col("bucket") < 10)
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# x6_data_mix — quality-gated, per-source-quota training mix

# per-source sampling rate: sources are banded by their numeric suffix
# (testdata convention srcN). Band 0 = curated (keep all) ... band 3 =
# low-trust bulk (keep 10%). A production pipeline reads this from a mix
# config; the banding here keeps the op deterministic and oracle-matched.
_MIX_RATES = (1.0, 0.5, 0.25, 0.1)
_MIX_MIN_TOKENS = 30


@query(
    "x6_data_mix",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             len(list_filter(string_split({SQL_NORM.format(c='text')}, ' '),
                             t -> length(t) > 0)) AS n_tok
      FROM documents
    ), rated AS (
      SELECT doc_id, source, n_tok,
             -- CAST: a bare decimal list literal types mix_rate as DECIMAL,
             -- which the driver's Arrow-typed hash can never match to
             -- Spark's double (see tests/test_oracle_registry_lint.py)
             CAST([{", ".join(str(r) for r in _MIX_RATES)}]
               [1 + CAST(substr(source, 4) AS INT) % {len(_MIX_RATES)}] AS DOUBLE) AS mix_rate,
             CAST(('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1000 AS bucket
      FROM tok WHERE n_tok >= {_MIX_MIN_TOKENS}
    )
    SELECT doc_id, source, n_tok, mix_rate,
           {_Q4.format(x='1.0 / mix_rate')} AS weight
    FROM rated
    WHERE bucket < mix_rate * 1000
    ORDER BY doc_id
    """,
    tags=("X6", "P2", "F6", "X4"),
)
def x6_data_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: quality gate + per-source sampling quota.

    The data-mixing step of a pretraining pipeline: (1) drop documents
    below a minimum token count (quality gate), (2) sample each source at
    its configured rate via content-addressed md5 bucketing (deterministic
    across engines/runs/cluster layouts, composes with incremental ingest —
    a doc's keep/drop decision never changes), (3) emit an importance
    weight 1/rate so downstream loss weighting can undo the subsampling.

    Scale shape: entirely map-only — the rate lookup is a literal
    expression on the source suffix, the sample predicate sits next to the
    scan, and the presentation sort is WITHIN partitions only: a global
    ORDER BY here would (a) be an all-to-all shuffle of the whole mix at
    100 TB and (b) double-execute the tokenize+md5 map, because range
    partitioning samples its narrow child (measured: 10x-scale wall
    dropped 4.5x -> ~1x removing it). The driver's oracle hash is
    row-order-insensitive, so the global order was presentation-only.

    Return contract: ordered by doc_id within partitions only — callers
    that relied on the pre-round-5 globally sorted output must sort the
    sampled result themselves."""
    d = T(spark, sf_dir, "documents")
    n_tok = token_count_expr(F.col("text"))
    band = F.substring("source", 4, 10).cast("int") % len(_MIX_RATES)
    rate = F.element_at(F.array(*[F.lit(r) for r in _MIX_RATES]), band + 1)
    bucket = mix_bucket_expr()
    return (
        d.select("doc_id", "source", n_tok.alias("n_tok"))
        .filter(F.col("n_tok") >= _MIX_MIN_TOKENS)
        .withColumn("mix_rate", rate)
        .withColumn("__bucket", bucket)
        .filter(F.col("__bucket") < F.col("mix_rate") * 1000)
        .select(
            "doc_id",
            "source",
            "n_tok",
            "mix_rate",
            _q4(F.lit(1.0) / F.col("mix_rate")).alias("weight"),
        )
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# x6_tfidf_topk — per-document keyword extraction


@query(
    "x6_tfidf_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({SQL_NORM.format(c='text')}, ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM tok WHERE length(term) > 0
      GROUP BY doc_id, term
    ), docfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             {_Q4.format(x='tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)')} AS tfidf
      FROM tf JOIN docfreq df USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, CAST(rnk AS INT) AS rnk, term, tfidf
    FROM ranked WHERE rnk <= 5
    ORDER BY doc_id, rnk
    """,
    tags=("X6", "X4", "A1", "W1"),
)
def x6_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (keyword extraction).

    Shape for scale: explode -> two-phase (doc,term) count (map-side combine
    absorbs the token explosion), then document frequency as a COUNT window
    over term — tf has exactly one row per (doc, term), so the window count
    IS df, computed in the same shuffle a groupBy+join-back would need but
    WITHOUT re-evaluating the tokenize+explode subtree for a second join
    branch (Spark does no CSE across join inputs — the join formulation
    tokenized the corpus twice). Corpus size arrives as a broadcast 1-row frame (no driver
    action), then a doc-partitioned window takes the top-k — every
    group-limit is local to its doc partition, no global sort until the
    final output ORDER BY. Ranking happens on the QUANTIZED score so both
    engines rank identical values; ties break on term."""
    d = spread(T(spark, sf_dir, "documents"))
    tf = (
        with_tokens(d)
        .select("doc_id", F.explode("toks").alias("term"))
        .filter(F.length("term") > 0)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            _q4(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "rnk", "term", "tfidf")
        .orderBy("doc_id", "rnk")
    )


# ---------------------------------------------------------------------------
# x6_contamination — benchmark n-gram overlap


def doc_gram_set(docs: DataFrame) -> DataFrame:
    """(doc_id, gram) DISTINCT word-trigram rows — the one gram definition
    the batch op (x6_contamination), the T20 benchset artifact and the T20
    ingest scorer all share, so contamination semantics cannot drift."""
    return (
        with_tokens(docs)
        .select("doc_id", F.explode(gram3_expr(F.col("toks"))).alias("gram"))
        .filter(F.length("gram") > 0)
        .distinct()
    )


def decontam_score(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """Per-doc benchmark-contamination verdicts for `docs` against a bench
    gram set (one `gram` column): distinct-trigram overlap counting with
    integer hits, one 4-dp quantized ratio, and the >= 5-hit flag. The
    bench side is benchmark-bounded BY CONSTRUCTION (thousands of items,
    not billions) so it broadcasts; the corpus side streams map-only into
    the per-doc two-phase agg. Exact integer counts -> the division is
    cross-engine/bit identical, which is what lets the T20 live lane gate
    bit-equality against this same function."""
    bench_marked = bench.select("gram").distinct().withColumn("__hit", F.lit(1))
    per_doc = (
        doc_gram_set(docs)
        .join(F.broadcast(bench_marked), "gram", "left")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.count("__hit").alias("n_hits"))
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_hits",
        _q4(F.col("n_hits").cast("double") / F.col("n_grams")).alias("contamination"),
        (F.col("n_hits") >= 5).alias("contaminated"),
    )


def decontam_write_benchset(bench_docs: DataFrame, artifact_dir: str) -> None:
    """Persist the benchmark's distinct trigram set — the frozen artifact
    the T20 ingest lane scores against (the lm_write_model discipline)."""
    doc_gram_set(bench_docs).select("gram").distinct().write.mode(
        "overwrite"
    ).parquet(artifact_dir)


def decontam_read_benchset(spark: SparkSession, artifact_dir: str) -> DataFrame:
    return spark.read.schema("gram string").parquet(artifact_dir)


@query(
    "x6_contamination",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split({SQL_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             toks[g.i] || ' ' || toks[g.i + 1] || ' ' || toks[g.i + 2] AS gram
      FROM tok, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) g
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
    ), corpus AS (
      SELECT * FROM grams WHERE doc_id % 97 <> 0
    ), hits AS (
      SELECT c.doc_id, COUNT(*) AS n_hits
      FROM corpus c JOIN bench b USING (gram)
      GROUP BY c.doc_id
    ), totals AS (
      SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_grams, COALESCE(h.n_hits, 0) AS n_hits,
           {_Q4.format(x='CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / t.n_grams')}
             AS contamination,
           COALESCE(h.n_hits, 0) >= 5 AS contaminated
    FROM totals t LEFT JOIN hits h USING (doc_id)
    ORDER BY doc_id
    """,
    tags=("X6", "X2", "J2", "A1"),
)
def x6_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: word-trigram overlap of every corpus
    document against a held-out eval set (here the doc_id % 97 == 0 slice).

    Scale shape: the eval set's distinct grams are SMALL by construction
    (benchmarks are thousands of items, not billions) — broadcast them, so
    the corpus side streams map-only with no shuffle until the per-doc
    count; overlap counting is a two-phase agg on doc_id. The same plan at
    100 TB reads the corpus once."""
    d = spread(T(spark, sf_dir, "documents"))
    # the doc_id slice predicates push below the tokenize+explode, so each
    # branch tokenizes only its own slice; hit and total counts come from
    # ONE pass over the corpus grams (left-join against the broadcast eval
    # set, count non-null markers) instead of separate hits/totals aggs.
    # Kernel shared with the T20 ingest lane: doc_gram_set/decontam_score.
    bench = doc_gram_set(d.filter(F.col("doc_id") % 97 == 0))
    return decontam_score(d.filter(F.col("doc_id") % 97 != 0), bench).orderBy(
        "doc_id"
    )


# ---------------------------------------------------------------------------
# x6_seq_pack — pretraining stream packing


@query(
    "x6_seq_pack",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             len(list_filter(string_split({SQL_NORM.format(c='text')}, ' '),
                             t -> length(t) > 0)) AS n_tok
      FROM documents
    ), cum AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM tok WHERE n_tok > 0
    )
    SELECT doc_id, source, n_tok,
           CAST((cum_tok - n_tok) // 512 AS BIGINT) AS chunk_first,
           CAST((cum_tok - 1) // 512 AS BIGINT) AS chunk_last,
           CAST((cum_tok - n_tok) % 512 AS BIGINT) AS chunk_offset
    FROM cum
    ORDER BY source, doc_id
    """,
    tags=("X6", "W3", "F2"),
)
def x6_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing: concatenate each source's token stream
    in doc_id order and slice it into fixed 512-token windows; each doc
    learns which chunk(s) it lands in and at what offset (GPT-style
    concat-then-chunk packing — docs may straddle chunk boundaries).

    Pure integer outputs (no float nondeterminism), one window per source.
    The running sum is the inherently sequential part of packing; at 100 TB
    the partition key becomes (source, shard) with per-shard chunk id
    offsets composed downstream — the per-shard plan is exactly this one."""
    d = spread(T(spark, sf_dir, "documents"))
    n_tok = token_count_expr(F.col("text"))
    sized = d.select("doc_id", "source", n_tok.alias("n_tok")).filter(
        F.col("n_tok") > 0
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sized.withColumn("cum_tok", F.sum("n_tok").over(w))
    return cum.select(
        "doc_id",
        "source",
        "n_tok",
        F.expr("(cum_tok - n_tok) div 512").alias("chunk_first"),
        F.expr("(cum_tok - 1) div 512").alias("chunk_last"),
        ((F.col("cum_tok") - F.col("n_tok")) % 512).alias("chunk_offset"),
    ).orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# x6_seq_pack_sharded — the 100 TB-shaped variant of the same packing

SEQ_PACK_SHARD_SPAN = 256  # doc_ids per shard; ~10^3-10^4 docs/shard at scale


@query(
    "x6_seq_pack_sharded",
    # identical output contract to x6_seq_pack — same oracle by construction
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             len(list_filter(string_split({SQL_NORM.format(c='text')}, ' '),
                             t -> length(t) > 0)) AS n_tok
      FROM documents
    ), cum AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM tok WHERE n_tok > 0
    )
    SELECT doc_id, source, n_tok,
           CAST((cum_tok - n_tok) // 512 AS BIGINT) AS chunk_first,
           CAST((cum_tok - 1) // 512 AS BIGINT) AS chunk_last,
           CAST((cum_tok - n_tok) % 512 AS BIGINT) AS chunk_offset
    FROM cum
    ORDER BY source, doc_id
    """,
    tags=("X6", "W3", "F2", "J5"),
)
def x6_seq_pack_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sequence packing: byte-identical output to `x6_seq_pack`,
    but NO per-source serialization — the scale path for a giant source.

    Level 1: shard each source on doc_id ranges (`doc_id div SPAN` — shard
    is monotone in doc_id, so shard-local order composes to source order)
    and run the running sum per (source, shard) window: parallelism =
    number of shards, each a bounded-size task.
    Level 2: per-shard token totals are a tiny frame (one row per shard);
    a prefix sum over shards within each source — a second window over
    ~n_shards rows, not data rows — yields each shard's global base offset,
    broadcast-joined back. cum_tok = shard_base + shard-local running sum,
    exactly the single-window value. No window in the plan is partitioned
    on raw `source` over data-sized input."""
    d = spread(T(spark, sf_dir, "documents"))
    n_tok = token_count_expr(F.col("text"))
    sized = (
        d.select("doc_id", "source", n_tok.alias("n_tok"))
        .filter(F.col("n_tok") > 0)
        .withColumn("shard", F.expr(f"doc_id div {SEQ_PACK_SHARD_SPAN}"))
    )
    # materialize once: sized feeds BOTH the shard-local window and the
    # per-shard totals aggregate, and Spark re-executes the scan+tokenize
    # subtree per branch. Four small columns per doc — the "token-count
    # table" a production packer would persist anyway.
    sized = sized.localCheckpoint(eager=False)
    w_local = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = sized.withColumn("cum_in_shard", F.sum("n_tok").over(w_local))
    totals = sized.groupBy("source", "shard").agg(F.sum("n_tok").alias("shard_tok"))
    w_prev = (
        Window.partitionBy("source")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = totals.select(
        "source",
        "shard",
        F.coalesce(F.sum("shard_tok").over(w_prev), F.lit(0)).alias("shard_base"),
    )
    cum = local.join(F.broadcast(bases), ["source", "shard"]).withColumn(
        "cum_tok", F.col("shard_base") + F.col("cum_in_shard")
    )
    return cum.select(
        "doc_id",
        "source",
        "n_tok",
        F.expr("(cum_tok - n_tok) div 512").alias("chunk_first"),
        F.expr("(cum_tok - 1) div 512").alias("chunk_last"),
        ((F.col("cum_tok") - F.col("n_tok")) % 512).alias("chunk_offset"),
    ).orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# x6_e2e_pipeline — the composed pretraining-data pipeline as ONE plan


@query(
    "x6_e2e_pipeline",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, text,
             len(list_filter(string_split({SQL_NORM.format(c='text')}, ' '),
                             t -> length(t) > 0)) AS n_tok
      FROM documents
    ), gated AS (
      SELECT * FROM tok WHERE n_tok >= {_MIX_MIN_TOKENS}
    ), deduped AS (
      SELECT doc_id, source, n_tok
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5({SQL_NORM.format(c='text')})
                                         ORDER BY doc_id) AS rn
            FROM gated)
      WHERE rn = 1
    ), sampled AS (
      SELECT * FROM deduped
      WHERE CAST(('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 1000 < 500
    ), packed AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM sampled
    )
    SELECT doc_id, source, n_tok,
           CAST((cum_tok - n_tok) // 512 AS BIGINT) AS chunk_first,
           CAST((cum_tok - n_tok) % 512 AS BIGINT) AS chunk_offset
    FROM packed
    ORDER BY source, doc_id
    """,
    tags=("X6", "X1", "X2", "W3", "F6"),
)
def x6_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pretraining-data pipeline — quality gate -> near-dup
    removal (normalized-content hash, smallest doc_id survives) ->
    deterministic 50% content-addressed sample -> sequence packing — as
    ONE Catalyst plan. This is the library's composability contract: each
    stage is the same expression its standalone operator uses
    (x6_data_mix's gate+bucket, x2_neardup_normhash's hash,
    x6_seq_pack's running sum), so the fused pipeline reads the corpus
    ONCE and shuffles only at the dedup hash and the per-source pack —
    chaining the standalone ops would re-scan and re-tokenize per stage.

    Scale shape: two shuffles total (dedup groupBy, pack window); the
    sample predicate and the gate ride the scan. At 100 TB the pack's
    per-source window becomes the (source, shard) two-level form of
    x6_seq_pack_sharded — stage composition is unchanged."""
    d = spread(T(spark, sf_dir, "documents"))
    n_tok = token_count_expr(F.col("text"))
    # r13 (guide §2.3 — project before the exchange): nothing after the
    # dedup window reads `text`, so the hash is computed map-side and the
    # payload DROPPED before the window's shuffle — the exchange now moves
    # ~64 B/row (doc_id, source, n_tok, h) instead of the KB-scale text.
    # Window over the `h` COLUMN groups exactly like the old window over
    # the md5 EXPRESSION (NULL text -> NULL h -> the same NULL partition).
    gated = d.select(
        "doc_id",
        "source",
        n_tok.alias("n_tok"),
        F.md5(normalized_text(F.col("text"))).alias("h"),
    ).filter(F.col("n_tok") >= _MIX_MIN_TOKENS)
    w_dedup = Window.partitionBy("h").orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "n_tok")
    )
    sampled = deduped.filter(mix_bucket_expr() < 500)
    w_pack = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sampled.withColumn("cum_tok", F.sum("n_tok").over(w_pack))
    return packed.select(
        "doc_id",
        "source",
        "n_tok",
        F.expr("(cum_tok - n_tok) div 512").alias("chunk_first"),
        ((F.col("cum_tok") - F.col("n_tok")) % 512).alias("chunk_offset"),
    ).orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# x6_filter_funnel — per-stage retention accounting for the curation funnel


@query(
    "x6_filter_funnel",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, lang,
             length(text) AS nc,
             len(string_split({SQL_NORM.format(c='text')}, ' ')) AS nt,
             len(list_distinct(string_split({SQL_NORM.format(c='text')}, ' ')))
               AS nd,
             md5({SQL_NORM.format(c='text')}) AS h
      FROM documents
    ), gated AS (
      SELECT *,
             (nt >= 30 AND nc >= 200) AS g1,
             (nt >= 30 AND nc >= 200
              AND CAST(nd AS DOUBLE) / nt >= 0.5) AS g2,
             (nt >= 30 AND nc >= 200
              AND CAST(nd AS DOUBLE) / nt >= 0.5 AND lang = 'en') AS g3
      FROM feat
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY h
                                ORDER BY g3 DESC, doc_id) AS rn
      FROM gated
    ), c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
             CAST(SUM(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
             CAST(SUM(CASE WHEN g3 AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c4
      FROM ranked
    )
    SELECT s.stage_idx, s.stage, s.n_in, s.n_out,
           CASE WHEN s.n_in = 0 THEN NULL
                ELSE FLOOR(CAST(s.n_out AS DOUBLE) / s.n_in * 10000.0 + 0.5)
                     / 10000.0
           END AS kept_frac
    FROM c, LATERAL (
      SELECT * FROM (VALUES
        (1, 'min_length',  c.c0, c.c1),
        (2, 'repetition',  c.c1, c.c2),
        (3, 'langid_en',   c.c2, c.c3),
        (4, 'exact_dedup', c.c3, c.c4)
      ) AS v(stage_idx, stage, n_in, n_out)
    ) s
    ORDER BY s.stage_idx
    """,
    tags=("X6", "X4", "X1", "A5"),
)
def x6_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel accounting: the sequential quality gates every
    pretraining pipeline runs (length -> repetition -> language -> exact
    dedup), reported as per-stage (n_in, n_out, kept_frac) — the loss
    ledger data teams publish next to a corpus release. A doc is counted
    into stage k only if it survived stages 1..k-1, so the rows compose
    into a true funnel.

    Scale shape: all three boolean gates are computed in ONE scan pass
    (no per-stage re-tokenization); the dedup stage ranks survivors
    first within each content-hash group (ORDER BY pass DESC, doc_id),
    so the keeper flag needs no second filtered scan. Total cost: one
    shuffle (the hash window) + a 5-number aggregate; the stage rows are
    inline-exploded from the single aggregate row, so nothing about the
    funnel's output shape grows with the corpus."""
    d = spread(T(spark, sf_dir, "documents"))
    toks = F.split(normalized_text(F.col("text")), " ")
    feat = d.select(
        "doc_id",
        "lang",
        F.length("text").alias("nc"),
        F.size(toks).alias("nt"),
        F.size(F.array_distinct(toks)).alias("nd"),
        F.md5(normalized_text(F.col("text"))).alias("h"),
    )
    g1 = (F.col("nt") >= 30) & (F.col("nc") >= 200)
    g2 = g1 & (F.col("nd").cast("double") / F.col("nt") >= 0.5)
    g3 = g2 & (F.col("lang") == "en")
    gated = feat.select("doc_id", "h", g1.alias("g1"), g2.alias("g2"), g3.alias("g3"))
    w = Window.partitionBy("h").orderBy(F.col("g3").desc(), "doc_id")
    ranked = gated.withColumn("rn", F.row_number().over(w))
    c = ranked.agg(
        F.count("*").alias("c0"),
        F.sum(F.col("g1").cast("bigint")).alias("c1"),
        F.sum(F.col("g2").cast("bigint")).alias("c2"),
        F.sum(F.col("g3").cast("bigint")).alias("c3"),
        F.sum((F.col("g3") & (F.col("rn") == 1)).cast("bigint")).alias("c4"),
    )
    stages = F.array(
        F.struct(F.lit(1).alias("stage_idx"), F.lit("min_length").alias("stage"),
                 F.col("c0").alias("n_in"), F.col("c1").alias("n_out")),
        F.struct(F.lit(2).alias("stage_idx"), F.lit("repetition").alias("stage"),
                 F.col("c1").alias("n_in"), F.col("c2").alias("n_out")),
        F.struct(F.lit(3).alias("stage_idx"), F.lit("langid_en").alias("stage"),
                 F.col("c2").alias("n_in"), F.col("c3").alias("n_out")),
        F.struct(F.lit(4).alias("stage_idx"), F.lit("exact_dedup").alias("stage"),
                 F.col("c3").alias("n_in"), F.col("c4").alias("n_out")),
    )
    return (
        c.select(F.inline(stages))
        .select(
            "stage_idx",
            "stage",
            "n_in",
            "n_out",
            # explicit NULL on an annihilated stage: Spark's non-ANSI /0 is
            # already NULL, but DuckDB's IEEE division would yield NaN —
            # both sides pin the same CASE so degenerate corpora still match
            F.when(F.col("n_in") == 0, F.lit(None).cast("double"))
            .otherwise(_q4(F.col("n_out").cast("double") / F.col("n_in")))
            .alias("kept_frac"),
        )
        .orderBy("stage_idx")
    )


# ---------------------------------------------------------------------------
# x6_curriculum — global difficulty ordering + curriculum stages


@query(
    "x6_curriculum",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             COALESCE(len(list_filter(string_split({SQL_NORM.format(c='text')}, ' '),
                             t -> length(t) > 0)), 0) AS score
      FROM documents
    ), r AS (
      SELECT doc_id, score,
             ROW_NUMBER() OVER (ORDER BY score, doc_id) AS rank,
             COUNT(*) OVER () AS total
      FROM tok
    )
    SELECT doc_id,
           CAST(score AS BIGINT) AS score,
           CAST(rank AS BIGINT) AS rank,
           CAST((rank - 1) * 4 // total AS BIGINT) AS stage
    FROM r
    ORDER BY doc_id
    """,
    tags=("X6", "W1", "O1"),
)
def x6_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: every doc gets its EXACT global rank under a
    difficulty key (token count, shortest-first — the classic curriculum
    schedule) and a 4-stage assignment — the op behind
    easy-to-hard data ordering for training runs.

    Scale shape — distributed exact global ranking WITHOUT the
    single-partition window trap: a naive row_number() over a global
    ORDER BY collapses the corpus onto one task. Instead, phase 1
    aggregates per-score counts (the score domain is small — hundreds of
    distinct token counts — so this frame is broadcast-sized), phase 2
    turns them into cumulative offsets with a window over that TINY frame,
    and phase 3 ranks docs inside each score group (window partitioned by
    score — parallel) and adds the broadcast offset. Total = one small
    agg + one parallel window; the corpus never funnels through a single
    partition. (Same two-level decomposition as x6_seq_pack_sharded.)"""
    d = spread(T(spark, sf_dir, "documents"))
    # one tokenize pass: the scored frame feeds both the per-score counts
    # and the rank join (Spark does no CSE across plan branches)
    # COALESCE(score, 0): a NULL text must still rank (a NULL join key
    # would silently drop the doc while the oracle ranks it NULLS LAST;
    # 0 tokens is the honest difficulty for an empty doc)
    scored = d.select(
        "doc_id",
        F.coalesce(token_count_expr(F.col("text")), F.lit(0)).cast("long").alias("score"),
    ).localCheckpoint(eager=False)
    counts = scored.groupBy("score").agg(F.count("*").alias("c"))
    w_off = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "score", F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("offset")
    )
    # total from the tiny counts frame — not a third corpus pass
    total = counts.agg(F.sum("c").alias("total"))
    w_in = Window.partitionBy("score").orderBy("doc_id")
    return (
        scored.join(F.broadcast(offsets), "score")
        .withColumn("rank", (F.col("offset") + F.row_number().over(w_in)).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "score",
            "rank",
            F.expr("(rank - 1) * 4 div total").cast("long").alias("stage"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# One-pass table profiling (the ANALYZE step a curation pipeline runs first)

_PROFILE_COLS = ("doc_id", "lang", "n_chars", "source", "text")


@query(
    "x6_profile",
    oracle="""
    """ + "\n    UNION ALL\n    ".join(
        f"""SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_val,
           CAST(MAX({c}) AS VARCHAR) AS max_val
    FROM documents""" for c in _PROFILE_COLS
    ) + """
    ORDER BY column_name
    """,
    tags=("X6", "A2", "A6"),
)
def x6_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile: per column, row/null/distinct counts and
    min/max (stringified) — the ANALYZE a pipeline runs before mixing or
    filtering a new source, and the stats a query planner wants.

    Scale shape: ONE aggregation job for every column (multi-distinct via
    Catalyst's Expand, the A2 pattern — each input row fans out once per
    distinct-agg, all map-side combined), then a stack() unpivot of the
    single result row. No per-column scans: 5 columns cost one pass, and
    at 100 TB the only shuffle is the distinct-agg's keyed combine. The
    oracle pays 5 scans (UNION ALL) for the same numbers — the Spark form
    is the one you'd actually run."""
    d = spread(T(spark, sf_dir, "documents"))
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = d.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
            "(column_name, n_rows, n_nulls, n_distinct, min_val, max_val)"
        )
    ).orderBy("column_name")


# ---------------------------------------------------------------------------
# x6_mix_temperature — temperature-scaled source rebalancing (α = 0.5)

# sqrt(mass) is quantized to integer BEFORE the cross-source sum so both
# totals are exact integers: float summation order (Spark partial-agg order,
# DuckDB scan order) can never perturb the keep predicate. SQRT_SCALE=1000
# keeps every product inside int64 headroom up to ~1000x the sf1.0 corpus
# (s_q ~ 1e6 * m_total/2 ~ 1e9 * 1000 ~ 1e18 < 2^63).
_TEMP_SQRT_SCALE = 1000


@query(
    "x6_mix_temperature",
    oracle=f"""
    WITH sc AS (
      SELECT source, SUM(n_chars) AS m FROM documents GROUP BY source
    ), sq AS (
      SELECT source, m,
             CAST(FLOOR(sqrt(CAST(m AS DOUBLE)) * {_TEMP_SQRT_SCALE}.0 + 0.5) AS BIGINT) AS s_q
      FROM sc
    ), tot AS (
      SELECT SUM(m) AS m_total, SUM(s_q) AS s_total FROM sq
    ), rates AS (
      SELECT source,
             CAST(GREATEST(1, LEAST(1000,
                  (s_q * (m_total // 2) * 1000) // (s_total * m))) AS BIGINT)
               AS rate_milli
      FROM sq, tot
    )
    SELECT d.doc_id, d.source, r.rate_milli,
           {_Q4.format(x='CAST(1000 AS DOUBLE) / r.rate_milli')} AS weight
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE CAST(('0x' || substr(md5(d.source || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 1000 < r.rate_milli
    ORDER BY d.doc_id
    """,
    tags=("X6", "A1", "J5", "F6"),
)
def x6_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (α = 0.5): per-source sampling rates
    q_s ∝ p_s^α computed FROM measured source mass, targeting half the
    corpus — the multilingual/multi-source rebalancing pass (rare sources
    upsampled toward parity, dominant sources squashed) that follows the
    fixed-quota x6_data_mix when quotas must come from the data itself.
    Mass is char mass (`n_chars` — already a column, so the rate pass scans
    two thin columns); production swaps in token counts, same shape.

    Scale shape: pass 1 aggregates (source, n_chars) map-side into a
    source-count table (tiny); rates are derived relationally from EXACT
    integer arithmetic (see _TEMP_SQRT_SCALE note) — no driver collect; the
    probe pass joins the broadcast rate table and filters on the shared
    content-addressed md5 bucket (mix_bucket_expr), map-only next to the
    scan. Keep/drop is reproducible across engines, runs, and cluster
    layouts, and composes with incremental ingest.

    Return contract: ordered by doc_id within partitions only (global sort
    would shuffle the kept mix; the driver hash is order-insensitive).
    weight = 1000/rate_milli is the importance weight that undoes the
    subsampling in downstream loss accounting."""
    d = T(spark, sf_dir, "documents")
    sc = d.groupBy("source").agg(F.sum("n_chars").alias("m"))
    sq = sc.withColumn(
        "s_q",
        F.floor(F.sqrt(F.col("m").cast("double")) * float(_TEMP_SQRT_SCALE) + 0.5).cast(
            "long"
        ),
    )
    tot = sq.groupBy().agg(
        F.sum("m").alias("m_total"), F.sum("s_q").alias("s_total")
    )
    rates = (
        sq.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.greatest(
                F.lit(1).cast("long"),
                F.least(
                    F.lit(1000).cast("long"),
                    F.expr("(s_q * (m_total div 2) * 1000) div (s_total * m)"),
                ),
            ).alias("rate_milli"),
        )
    )
    return (
        d.join(F.broadcast(rates), "source")
        .filter(mix_bucket_expr(1000) < F.col("rate_milli"))
        .select(
            "doc_id",
            "source",
            "rate_milli",
            _q4(F.lit(1000.0) / F.col("rate_milli")).alias("weight"),
        )
        .sortWithinPartitions("doc_id")
    )


# ---------------------------------------------------------------------------
# x6_source_overlap — cross-source n-gram overlap audit

_SQL_JAC = (
    "FLOOR(CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE)"
    " * 10000.0 + 0.5) / 10000.0"
)


@query(
    "x6_source_overlap",
    oracle=f"""
    WITH tok AS (
      SELECT source, string_split({SQL_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), grams AS (
      -- gram identity is a 60-bit md5 prefix, NOT the string: the Spark
      -- side shuffles 8-byte keys instead of ~30-byte trigrams (measured
      -- 100x: the string form had zero parallel economy); both engines
      -- hash identically so any collision is shared and the op stays
      -- hash-matched
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5(toks[g.i] || ' ' || toks[g.i + 1]
                                  || ' ' || toks[g.i + 2]), 1, 15)) AS BIGINT)
               AS gram_key
      FROM tok, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) g
    ), counts AS (
      SELECT source, COUNT(*) AS n FROM grams GROUP BY source
    ), pc AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
      FROM grams a JOIN grams b ON a.gram_key = b.gram_key AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_common, ca.n AS grams_a, cb.n AS grams_b,
           {_SQL_JAC} AS jaccard
    FROM pc
    JOIN counts ca ON pc.source_a = ca.source
    JOIN counts cb ON pc.source_b = cb.source
    ORDER BY source_a, source_b
    """,
    tags=("X6", "X2", "A1", "J1"),
)
def x6_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair duplication audit: distinct-trigram Jaccard between every
    pair of sources — the corpus-level overlap report a curation team reads
    before mixing sources (a high-overlap pair means one source largely
    mirrors another, e.g. a crawl re-hosting another crawl, and the mix
    double-counts it; also the cheap first check for benchmark contamination
    between a benchmark source and a training source).

    Scale shape: ONE corpus-sized shuffle — explode per-doc-distinct
    trigrams, reduce each gram MAP-SIDE to a 60-bit md5-prefix key (8-byte
    shuffle keys) and its source to a bit index (a row_number over the
    distinct-source frame, broadcast onto the gram pass — no driver
    collect anywhere in the query; r13), then groupBy gram_key into a
    single bit_or(1 << idx) LONG.
    The bitmask aggregation is the load-bearing choice: the collect_set
    form measured 246x wall at 100x salted data because collect_set is an
    ObjectHashAggregate that falls back to sort-based aggregation and
    materializes per-gram array buffers, while bit_or is plain codegen
    HashAggregate with map-side combine — and the per-gram state is 8
    bytes, not an array (at 10x salted both forms are corpus-pass-bound at
    ~16 s; the object-agg pathology only bites once the vocab outgrows the
    hash map, which is exactly the 100x regime). Per-source gram counts
    (singles, tagged ib=-1) and pair counts (each mask's C(s,2) bit pairs,
    bounded by sources^2 per gram regardless of how many documents share
    the gram — what makes this linear where doc-pair Jaccard needs a df
    cap) are emitted from ONE codegen-HOF explode over the masks, so the
    corpus pass has exactly one consumer and nothing vocab-sized is ever
    materialized (the mask-checkpoint form measured 102x at 100x salted;
    this fused form removes the 8-byte-x-vocab materialization and the
    second vocab pass); the only checkpointed frame is the
    <= S + C(S,2)-row tally table. Pair/count joins: broadcast. Corpora with
    > 64 sources shard this op by source-group pairs (each group keeps its
    own 64-bit mask lane); the fixture and any sane mixing config stay
    far below that."""
    d = spread(T(spark, sf_dir, "documents"))
    # Source->bit-index assignment is DISTRIBUTED (r13, verdict ask #6 +
    # guide §5 "the driver should do almost no data work"): the r12 form
    # collected the distinct source list to the driver on EVERY build —
    # a full (column-pruned) corpus pass serialized before the gram pass
    # could start, re-paid per bench iteration (~0.5 s x 3 at sf0.1) and a
    # real extra serial pass at 100 TB. The index is now a row_number over
    # the distinct-source frame (a window over <= 64 rows — bounded by the
    # lane check below, never corpus-sized) broadcast-joined onto the DOC
    # rows before the gram explode; the distinct aggregate's exchange is
    # built once and AQE-reused by every broadcast that needs it.
    w_src = Window.orderBy("source")
    sidx_frame = (
        T(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .select("source", (F.row_number().over(w_src) - 1).alias("sidx"))
    )
    # shiftleft wraps silently at 64 (Java shift semantics are mod-64), so
    # a >64-source corpus must fail LOUDLY, not corrupt masks — the same
    # contract the old driver-side NotImplementedError enforced, now
    # raised at execution from inside the plan. A NULL-source document
    # fails the same way: no source can own its grams, and an inner join
    # on source would drop it unnoticed, so the index join below is a left
    # join that keeps it for this check.
    lanes_exceeded = F.concat(
        F.lit(
            "x6_source_overlap's single-lane bitmask form supports "
            "<= 64 sources; shard source-group pairs across lanes "
            "(offending source: "
        ),
        F.col("source"),
        F.lit(")"),
    )
    guarded_sidx = (
        F.when(
            F.col("source").isNull(),
            F.raise_error(F.lit("x6_source_overlap: a document has a NULL source")),
        )
        .when(F.col("sidx") < 64, F.col("sidx"))
        .otherwise(F.raise_error(lanes_exceeded))
    )
    toks = F.split(normalized_text(F.col("text")), " ")
    gram_key = F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10).cast("long")
    # the broadcast index joins the DOC rows, not the exploded gram rows
    # (r13 A/B: joining after the explode ran the probe per gram instead of
    # per doc and cost ~0.9 s at sf0.1 — guide §3.3 "explode before a join
    # multiplies the shuffle", here it multiplied the probe)
    per_doc = (
        d.join(F.broadcast(sidx_frame), "source", "left")
        .select(
            guarded_sidx.alias("sidx"),
            F.explode(F.array_distinct(gram3_expr(toks))).alias("gram"),
        )
        .select(gram_key.alias("gram_key"), "sidx")
    )
    masks = per_doc.groupBy("gram_key").agg(
        F.expr("bit_or(shiftleft(1L, CAST(sidx AS INT)))").alias("mask")
    )
    # ONE codegen HOF loop over sequence(0,63) instead of a 64-branch
    # when() array (r13 A/B: the literal-array form built a 64-subtree
    # expression evaluated per mask row and cost ~0.2 s at sf0.1; the
    # arithmetic shift fills high bits but `& 1` reads only the low bit,
    # so bit 63 — the signed-overflow case the old form special-cased —
    # is handled for free)
    set_bits = F.expr("filter(sequence(0, 63), i -> (shiftright(mask, i) & 1) = 1)")
    # singles (i, -1) and pairs (i, j) emitted from ONE explode so the corpus
    # pass has exactly one consumer — no vocab-sized materialization; the
    # only checkpointed frame is the <= S + C(S,2)-row count table
    single_structs = F.transform(
        set_bits, lambda a: F.struct(a.alias("ia"), F.lit(-1).alias("ib"))
    )
    pair_structs = F.flatten(
        F.transform(
            set_bits,
            lambda a, i: F.transform(
                F.slice(set_bits, i + 2, F.lit(64)),
                lambda b: F.struct(a.alias("ia"), b.alias("ib")),
            ),
        )
    )
    tallies = (
        masks.select(
            F.explode(F.concat(single_structs, pair_structs)).alias("p")
        )
        .select("p.ia", "p.ib")
        .groupBy("ia", "ib")
        .agg(F.count("*").alias("cnt"))
        # NO materialization barrier (r13): the two consumers (counts, pc)
        # branch ABOVE the (ia, ib) aggregate exchange, which AQE reuses
        # across plan branches — the corpus gram pass runs ONCE either way
        # (measured: 12 jobs / 20 stages / 177 tasks with and without a
        # localCheckpoint here); only the <= S + C(S,2)-row final aggregate
        # recomputes per branch. The checkpoint's eager planning of the
        # corpus subtree was this query's documented r12 build cost
        # (0.4-5 s per build) and made cold runs bimodal (4.8/7.1/2.8 s vs
        # a stable 2.7 s without).
    )
    counts = tallies.filter(F.col("ib") == -1).select(
        F.col("ia").alias("sidx"), F.col("cnt").alias("n")
    )
    pc = tallies.filter(F.col("ib") >= 0).select(
        "ia", "ib", F.col("cnt").alias("n_common")
    )
    names = sidx_frame.select("sidx", "source")
    jac = F.col("n_common").cast("double") / (
        F.col("grams_a") + F.col("grams_b") - F.col("n_common")
    ).cast("double")
    return (
        pc.join(
            F.broadcast(
                counts.join(names, "sidx").select(
                    F.col("sidx").alias("ia"),
                    F.col("source").alias("source_a"),
                    F.col("n").alias("grams_a"),
                )
            ),
            "ia",
        )
        .join(
            F.broadcast(
                counts.join(names, "sidx").select(
                    F.col("sidx").alias("ib"),
                    F.col("source").alias("source_b"),
                    F.col("n").alias("grams_b"),
                )
            ),
            "ib",
        )
        .select(
            "source_a",
            "source_b",
            "n_common",
            "grams_a",
            "grams_b",
            _q4(jac).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# x6_epoch_shuffle — seeded deterministic training-order permutation


@query(
    "x6_epoch_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT e.epoch, doc_id,
             CAST(('0x' || substr(md5(e.epoch || ':' || doc_id), 1, 15))
                  AS BIGINT) AS hv
      FROM documents, (SELECT unnest([0, 1]) AS epoch) e
    )
    SELECT epoch, doc_id,
           ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY hv, doc_id) AS rank
    FROM h
    ORDER BY epoch, doc_id
    """,
    tags=("X6", "W1", "F6"),
)
def x6_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch deterministic global shuffle: the training-order
    permutation a pretraining dataloader applies — every doc gets its EXACT
    position under ORDER BY md5(epoch:doc_id), a fresh permutation per
    epoch, reproducible across runs/workers with no RNG state (the
    curriculum op orders easy-to-hard; this is its randomized sibling, and
    together they cover the two training-order regimes).

    Scale shape — exact global rank under a HIGH-CARDINALITY key, where
    x6_curriculum's per-score-counts trick would produce a corpus-sized
    counts frame: bucket by the hash's top 10 bits instead. Bucket is a
    PREFIX of the sort key, so (bucket, hash, doc_id) order equals
    (hash, doc_id) order and per-bucket offsets + within-bucket
    row_numbers compose to the exact global rank. The counts/offsets frame
    is 2 epochs x 1024 buckets regardless of corpus size; the within-bucket
    window is partitioned (parallel) and each partition holds ~n/1024
    uniformly-hashed rows — no single-partition window, no skew."""
    d = spread(T(spark, sf_dir, "documents"))
    hv = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))), 1, 15),
        16,
        10,
    ).cast("long")
    scored = (
        d.select(
            "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch")
        )
        .select("epoch", "doc_id", hv.alias("hv"))
        .withColumn("bucket", F.shiftright("hv", 50))
        # NO materialization barrier (r13): the two consumers (bucket
        # counts, rank join) branch ABOVE spread()'s round-robin exchange,
        # which AQE reuses across plan branches (measured: 8 jobs / 18
        # stages / 235 tasks with and without a localCheckpoint here).
        # Each branch recomputes only the md5+explode projection over the
        # reused exchange — two cheap map passes at any scale, where the
        # checkpoint pinned a corpus-sized (epoch, doc_id, hv, bucket)
        # RDD and serialized its stages into build().
    )
    counts = scored.groupBy("epoch", "bucket").agg(F.count("*").alias("c"))
    w_off = (
        Window.partitionBy("epoch")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "epoch", "bucket", F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("offset")
    )
    w_in = Window.partitionBy("epoch", "bucket").orderBy("hv", "doc_id")
    return (
        scored.join(F.broadcast(offsets), ["epoch", "bucket"])
        .select(
            "epoch",
            "doc_id",
            (F.col("offset") + F.row_number().over(w_in)).cast("long").alias("rank"),
        )
        .orderBy("epoch", "doc_id")
    )


# ---------------------------------------------------------------------------
# x6_fuzzy_decontam — MinHash-LSH benchmark decontamination (r8)


def _fuzzy_decontam_sql() -> str:
    """Oracle assembled from the dedup module's md5 Kirsch-Mitzenmacher
    building blocks so BOTH decontamination axes (exact trigram =
    x6_contamination, fuzzy LSH = this op) replay bit-for-bit in DuckDB."""
    from otlp2parquet_spark.extensions.dedup import _MHFS_BANDS, _MHFS_MINS

    return f"""
    WITH tok AS (
      SELECT doc_id, string_split({SQL_NORM.format(c='text')}, ' ') AS toks
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             toks[g.i] || ' ' || toks[g.i + 1] || ' ' || toks[g.i + 2] AS gram
      FROM tok, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) g
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(gram), 17, 10)) AS BIGINT) AS h2
      FROM grams
    ), mins AS (
      SELECT doc_id, {_MHFS_MINS}
      FROM h GROUP BY doc_id
    ), bands AS (
      {_MHFS_BANDS}
    ), bench AS (
      SELECT DISTINCT band, bsig FROM bands WHERE doc_id % 97 = 0
    ), flags AS (
      SELECT t.doc_id, TRUE AS hit
      FROM bands t JOIN bench b ON t.band = b.band AND t.bsig = b.bsig
      WHERE t.doc_id % 97 <> 0
      GROUP BY t.doc_id
    )
    SELECT d.doc_id, COALESCE(f.hit, FALSE) AS is_contaminated
    FROM documents d LEFT JOIN flags f ON d.doc_id = f.doc_id
    WHERE d.doc_id % 97 <> 0
    ORDER BY d.doc_id
    """


@query(
    "x6_fuzzy_decontam",
    oracle=_fuzzy_decontam_sql(),
    tags=("X6", "X2", "J2", "F6"),
)
def x6_fuzzy_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination: flag every training document whose
    MinHash-LSH signature collides with ANY benchmark document (here the
    doc_id % 97 == 0 slice standing in for the eval set) — the
    paraphrase-robust sibling of x6_contamination's exact trigram overlap.
    Exact matching misses eval items that were lightly reworded or
    reformatted on the web before being crawled; whole-document LSH at the
    x2_minhash_firstseen operating point catches any training doc whose
    estimated trigram Jaccard to an eval item is high — the decontamination
    step production pretraining pipelines run alongside the exact pass.

    Hash-matched, not tolerance-gated: reuses the md5-derived
    Kirsch-Mitzenmacher family (dedup.minhash_fs_bands) that DuckDB replays
    bit-for-bit, so the LSH verdicts themselves are oracle-checked.

    Scale shape: the bench and training sides are DISJOINT doc_id slices,
    so each is tokenized+signature-hashed exactly once from its own
    filter-pushed scan (total kernel work = one corpus pass; signing the
    whole corpus once and branching would instead re-execute the kernel at
    both join consumers or force a corpus-sized cache — the r4 bug class).
    The benchmark band set is SMALL by construction (benchmarks are
    thousands of items) and distinct, so it BROADCASTS and the training
    side streams map-only through a left-semi broadcast join — no
    corpus-sized shuffle beyond the signature agg, the same plan
    x6_contamination runs for exact grams. Gramless (<3-token) docs
    produce no bands and surface is_contaminated = FALSE via the final
    doc_id-only (zero data columns) left join."""
    from otlp2parquet_spark.extensions.dedup import minhash_fs_bands

    d = spread(T(spark, sf_dir, "documents"))
    corpus = d.select("doc_id", "text")
    bench = (
        minhash_fs_bands(corpus.filter(F.col("doc_id") % 97 == 0))
        .select("band", "bsig")
        .distinct()
    )
    hits = (
        minhash_fs_bands(corpus.filter(F.col("doc_id") % 97 != 0))
        .join(F.broadcast(bench), ["band", "bsig"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        d.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select("doc_id", F.coalesce("hit", F.lit(False)).alias("is_contaminated"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x6_dsir_sample — DSIR hashed-n-gram importance resampling (r8)

# feature-space size: hashed unigram buckets (the DSIR paper uses 10k
# buckets of hashed bigrams at web scale; 1024 keeps every fixture's model
# broadcast-tiny while leaving real collision behavior to test)
_DSIR_B = 1024
# log-ratio quantum: 1e-8 per unit. FLOOR(ln * 1e8 + 0.5) of the identical
# double is the identical BIGINT in both engines, and all downstream
# arithmetic is exact int64 (bounds: |lr_i| <= ~2e9 only if a bucket ratio
# reached e^20 — impossible with add-one smoothing below ~1e8 total tokens;
# per-doc sums stay < 2^53 let alone 2^63)
_DSIR_MICRO = "100000000.0"
# target-set share kept by the resampling gate
_DSIR_KEEP_Q = 0.8

_DSIR_SQL = f"""
    WITH tok AS (
      SELECT doc_id, source,
             unnest(list_filter(string_split({SQL_NORM.format(c='text')}, ' '),
                                t -> length(t) > 0)) AS t
      FROM documents
    ), bt AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % {_DSIR_B} AS bk
      FROM tok
    ), raw_c AS (
      SELECT bk, COUNT(*) AS c_r FROM bt GROUP BY bk
    ), tgt_c AS (
      SELECT bk, COUNT(*) AS c_t FROM bt
      WHERE CAST(substr(source, 4) AS INT) % 4 = 0 GROUP BY bk
    ), tot AS (
      SELECT (SELECT COUNT(*) FROM bt) AS tot_r,
             (SELECT COUNT(*) FROM bt
              WHERE CAST(substr(source, 4) AS INT) % 4 = 0) AS tot_t
    ), model AS (
      SELECT bk,
             CAST(FLOOR(ln(
               CAST((COALESCE(c_t, 0) + 1) * (tot_r + {_DSIR_B}) AS DOUBLE)
               / CAST((c_r + 1) * (tot_t + {_DSIR_B}) AS DOUBLE)
             ) * {_DSIR_MICRO} + 0.5) AS BIGINT) AS lr_i
      FROM raw_c LEFT JOIN tgt_c USING (bk), tot
    ), docb AS (
      SELECT doc_id, source, bk, COUNT(*) AS cnt FROM bt GROUP BY 1, 2, 3
    ), scored AS (
      SELECT doc_id, source,
             CAST(SUM(cnt * lr_i) AS BIGINT) AS liw_micro,
             CAST(SUM(cnt) AS BIGINT) AS n_tok
      FROM docb JOIN model USING (bk) GROUP BY doc_id, source
    ), pool AS (
      SELECT d.doc_id, d.source,
             COALESCE(s.liw_micro, 0) AS liw_micro,
             COALESCE(s.n_tok, 0) AS n_tok
      FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    ), th AS (
      SELECT quantile_cont(CAST(liw_micro AS DOUBLE), {_DSIR_KEEP_Q}) AS q
      FROM pool
    )
    SELECT doc_id, source, liw_micro, n_tok,
           CAST(liw_micro AS DOUBLE) >= q AS keep
    FROM pool, th
    ORDER BY doc_id
    """


def _dsir_full(
    spark: SparkSession, sf_dir: str, checkpoint: bool = True
) -> DataFrame:
    """The per-doc DSIR weight frame (doc_id, source, liw_micro, n_tok) —
    x6_dsir_sample minus the percentile gate. `checkpoint=False` exposes
    the raw lineage so plan tests can assert the internal shapes that the
    materialization boundaries otherwise hide behind RDD scans."""
    d = spread(T(spark, sf_dir, "documents"))
    tok = with_tokens(d, ("doc_id", "source"))
    bt = tok.select(
        "doc_id",
        "source",
        F.explode(F.filter(F.col("toks"), lambda t: F.length(t) > 0)).alias("t"),
    ).select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
            % _DSIR_B
        ).alias("bk"),
    )
    # the (doc,bucket) count frame is the single corpus pass BOTH the model
    # build and the scoring consume — materialized once (lazy checkpoint:
    # feeding two consumers from the raw lineage would re-run the tokenize
    # kernel at each, the r4 duplicate-subtree bug class). It is the
    # compact counts representation: <= B rows per doc, no text.
    docb = bt.groupBy("doc_id", "source", "bk").agg(F.count("*").alias("cnt"))
    if checkpoint:
        docb = docb.localCheckpoint(eager=False)
    is_target = F.substring(F.col("source"), 4, 16).cast("int") % 4 == 0
    # model build: B-bounded conditional agg over the counts frame
    counts = docb.groupBy("bk").agg(
        F.sum("cnt").alias("c_r"),
        F.sum(F.when(is_target, F.col("cnt")).otherwise(0)).alias("c_t"),
    )
    totals = counts.agg(
        F.sum("c_r").alias("tot_r"), F.sum("c_t").alias("tot_t")
    )
    lr_num = ((F.col("c_t") + 1) * (F.col("tot_r") + _DSIR_B)).cast("double")
    lr_den = ((F.col("c_r") + 1) * (F.col("tot_t") + _DSIR_B)).cast("double")
    model = counts.crossJoin(F.broadcast(totals)).select(
        "bk",
        F.floor(F.log(lr_num / lr_den) * float(_DSIR_MICRO) + 0.5)
        .cast("long")
        .alias("lr_i"),
    )
    scored = (
        docb.join(F.broadcast(model), "bk")
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("cnt") * F.col("lr_i")).alias("liw_micro"),
            F.sum("cnt").alias("n_tok"),
        )
    )
    full = d.select("doc_id", "source").join(
        scored.drop("source"), "doc_id", "left"
    ).select(
        "doc_id",
        "source",
        F.coalesce("liw_micro", F.lit(0)).alias("liw_micro"),
        F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
    )
    if checkpoint:
        full = full.localCheckpoint(eager=False)  # threshold + output read it
    return full


@query(
    "x6_dsir_sample",
    oracle=_DSIR_SQL,
    tags=("X6", "X4", "A1", "J1", "F6"),
)
def x6_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): score every raw document by its
    log importance weight under hashed-unigram bag-of-words models of a
    TARGET distribution (the curated source band — the x6_data_mix band-0
    convention) vs the RAW pool, then keep the top {1-q} fraction — the
    published continued-pretraining data-selection method (FineWeb-class
    pipelines run exactly this shape with a quality target set).

    weight(d) = sum over d's tokens of ln(p_target(bucket)/p_raw(bucket)),
    add-one smoothed over B=1024 md5 buckets. Hash-matched end to end:
    each bucket's log-ratio is ln() of ONE rational whose numerator and
    denominator are exact int64 products (identical double in both
    engines), immediately quantized to int64 micro-units; per-doc weights
    are then pure integer SUM(cnt * lr_i) — order-free, engine-free. The
    keep gate compares against the exact 0.8 percentile of the integer
    weights (the x4_perplexity_buckets one-row-threshold pattern).

    Scale shape (the reason DSIR beats classifier selection at 100 TB per
    the paper): the corpus collapses ONCE to the compact (doc,bucket)
    count frame (map-side combined, <= B rows per doc, no text —
    materialized so the model build and the scoring don't re-run the
    tokenize kernel); the MODEL is a B-bounded agg over that frame,
    BROADCAST back, so scoring is a map-only join + one doc-keyed agg over
    counts, never raw tokens. The threshold is ONE percentile row
    broadcast back — no global sort, no driver-sized collect. Tokenless
    docs surface liw_micro = 0 via the final doc-keyed left join
    (mirrored in the oracle).

    Reference parity: the reference has no selection surface (it delegates
    all querying, docs/querying.md:1-9); this extends the engine's
    training-data tier alongside x6_data_mix/x6_curriculum."""
    full = _dsir_full(spark, sf_dir)
    th = full.agg(
        F.expr(f"percentile(liw_micro, {_DSIR_KEEP_Q})").alias("q")
    )
    return (
        full.crossJoin(F.broadcast(th))
        .select(
            "doc_id",
            "source",
            "liw_micro",
            "n_tok",
            (F.col("liw_micro").cast("double") >= F.col("q")).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x6_zorder_layout — Morton z-value clustering key (r8)


def _zorder_sql() -> str:
    from otlp2parquet_spark.layout import zorder_sql_bits

    return f"""
    WITH ext AS (
      SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
             MIN(epoch_us(ts)) AS tmin, MAX(epoch_us(ts)) AS tmax
      FROM events
    ), g AS (
      SELECT event_id,
             ((user_id - umin) * 65536) // (umax - umin + 1) AS ux,
             ((epoch_us(ts) - tmin) * 65536) // (tmax - tmin + 1) AS tx
      FROM events, ext
    )
    SELECT event_id, ux, tx,
           CAST({zorder_sql_bits('ux', 'tx')} AS BIGINT) AS zval
    FROM g
    ORDER BY event_id
    """


@query(
    "x6_zorder_layout",
    oracle=_zorder_sql(),
    tags=("X6", "F3", "F6"),
)
def x6_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-value for every event over the (user_id, ts) plane — the
    clustering key behind multi-dimensional row-group skipping (the
    Delta/Iceberg OPTIMIZE ZORDER technique). The reference's layout story
    prunes on one dimension tree (service dirs, then time partitions —
    src/writer/write.rs:118-129); z-ordering is what a 100 TB events table
    needs for (user x time) box queries: rows close in BOTH dimensions
    land in the same row groups, so footer min/max stats prune boxes in
    either or both dimensions (measured in BASELINE.md r8 via
    layout.zorder_write; skipping gates in tests/test_zorder_layout.py).

    Hash-matched: grid coordinates are exact int64 arithmetic against ONE
    extremes aggregate broadcast back (non-negative operands, so DIV ==
    floor division in both engines), and the 32-term bit interleave is the
    identical shift/mask formula in Spark and DuckDB. Scale shape: one
    map-side-combined extremes agg -> 1 broadcast row; the z-value itself
    is map-only whole-stage-codegen integer work next to the scan. The
    clustered WRITE (zorder_write) adds exactly one range shuffle."""
    from otlp2parquet_spark.layout import grid16, zvalue16

    e = T(spark, sf_dir, "events")
    ext = e.agg(
        F.min("user_id").alias("umin"),
        F.max("user_id").alias("umax"),
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("tmin"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("tmax"),
    )
    g = (
        e.select("event_id", "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
        .crossJoin(F.broadcast(ext))
        .select(
            "event_id",
            grid16("user_id", "umin", "umax").alias("ux"),
            grid16("ts_us", "tmin", "tmax").alias("tx"),
        )
    )
    return g.select(
        "event_id",
        "ux",
        "tx",
        zvalue16(F.col("ux"), F.col("tx")).cast("long").alias("zval"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# x6_hilbert_layout — Hilbert-curve clustering key (r8)


def _hilbert_sql() -> str:
    from otlp2parquet_spark.layout import hilbert16_sql

    return f"""
    WITH ext AS (
      SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
             MIN(epoch_us(ts)) AS tmin, MAX(epoch_us(ts)) AS tmax
      FROM events
    ), g AS (
      SELECT event_id,
             ((user_id - umin) * 65536) // (umax - umin + 1) AS ux,
             ((epoch_us(ts) - tmin) * 65536) // (tmax - tmin + 1) AS tx
      FROM events, ext
    ),
    {hilbert16_sql('g', 'ux', 'tx', 'event_id')}
    SELECT event_id, CAST(hd AS BIGINT) AS hval
    FROM h0
    ORDER BY event_id
    """


@query(
    "x6_hilbert_layout",
    oracle=_hilbert_sql(),
    tags=("X6", "F3", "P4"),
)
def x6_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve distance for every event over the (user_id, ts)
    plane — the better-locality sibling of x6_zorder_layout (a contiguous
    Hilbert range is one connected region, so 2-D boxes touch fewer
    false-positive row groups than under Morton's quadrant seams; measured
    head-to-head in BASELINE.md r8).

    Hash-matched: the 16 rot/swap levels run as named intermediate columns
    (layout.hilbert16) and the oracle's CTE chain (layout.hilbert16_sql)
    is GENERATED from the same recurrence — one construction, two engines,
    pure integer CASE/AND/XOR arithmetic throughout. Scale shape: one
    extremes agg broadcast back, then map-only integer work; the chain of
    16 projections stays inside one whole-stage-codegen span."""
    from otlp2parquet_spark.layout import grid16, hilbert16

    e = T(spark, sf_dir, "events")
    ext = e.agg(
        F.min("user_id").alias("umin"),
        F.max("user_id").alias("umax"),
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("tmin"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("tmax"),
    )
    g = (
        e.select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
        .crossJoin(F.broadcast(ext))
        .select(
            "event_id",
            grid16("user_id", "umin", "umax").alias("ux"),
            grid16("ts_us", "tmin", "tmax").alias("tx"),
        )
    )
    return (
        hilbert16(g, "ux", "tx", out="hval")
        .select("event_id", "hval")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# DSIR frozen-model deploy (r8): train the selection model offline on a
# reference corpus, persist it, score arriving batches at ingest (T14).


def _dsir_bucket_expr(tcol):
    """The shared md5 unigram bucket (one definition for the registry op's
    inline model and the frozen deploy path — both MUST bucket identically
    or the deploy==registry equivalence gate is vacuous)."""
    return (
        F.conv(F.substring(F.md5(tcol), 1, 8), 16, 10).cast("long") % _DSIR_B
    )


def _dsir_doc_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, source?, bk, cnt) bucket counts for a documents frame —
    one tokenize pass, one map-side-combined count shuffle."""
    cols = [c for c in ("doc_id", "source") if c in docs.columns]
    tok = with_tokens(docs, tuple(cols))
    bt = tok.select(
        *cols,
        F.explode(F.filter(F.col("toks"), lambda t: F.length(t) > 0)).alias("t"),
    ).select(*cols, _dsir_bucket_expr(F.col("t")).alias("bk"))
    return bt.groupBy(*cols, "bk").agg(F.count("*").alias("cnt"))


def dsir_build_model(docs: DataFrame) -> tuple[DataFrame, int]:
    """Train the DSIR selection model on a reference corpus: returns the
    (bk, lr_i) log-ratio table and the frozen keep threshold (the
    corpus's 0.8-percentile integer weight). The arithmetic is
    x6_dsir_sample's exactly (exact int64 rationals, micro-quantized ln,
    integer sums), so scoring any doc with this model reproduces the
    registry op bit-for-bit when trained on the same corpus
    (tests/test_streaming_dsir.py pins that equality).

    Out-of-vocabulary coverage: alongside the observed buckets, ONE
    sentinel row bk = -1 carries the smoothed unseen-bucket log-ratio
    ln((tot_r + B) / (tot_t + B)) — exactly the add-one formula at
    c_t = c_r = 0, quantized through the identical floor-micro path —
    so dsir_score can weight tokens hashing to buckets the training
    corpus never saw (T14 scoring new data against a small/old model)
    instead of silently dropping them. bk = -1 can never collide with a
    real md5 bucket (those live in [0, B))."""
    docb = _dsir_doc_buckets(docs).localCheckpoint(eager=False)
    is_target = F.substring(F.col("source"), 4, 16).cast("int") % 4 == 0
    counts = docb.groupBy("bk").agg(
        F.sum("cnt").alias("c_r"),
        F.sum(F.when(is_target, F.col("cnt")).otherwise(0)).alias("c_t"),
    )
    totals = counts.agg(F.sum("c_r").alias("tot_r"), F.sum("c_t").alias("tot_t"))
    lr_num = ((F.col("c_t") + 1) * (F.col("tot_r") + _DSIR_B)).cast("double")
    lr_den = ((F.col("c_r") + 1) * (F.col("tot_t") + _DSIR_B)).cast("double")
    model = counts.crossJoin(F.broadcast(totals)).select(
        "bk",
        F.floor(F.log(lr_num / lr_den) * float(_DSIR_MICRO) + 0.5)
        .cast("long")
        .alias("lr_i"),
    )
    oov_num = (F.col("tot_r") + _DSIR_B).cast("double")
    oov_den = (F.col("tot_t") + _DSIR_B).cast("double")
    model = model.unionByName(
        totals.select(
            F.lit(-1).cast("long").alias("bk"),
            F.floor(F.log(oov_num / oov_den) * float(_DSIR_MICRO) + 0.5)
            .cast("long")
            .alias("lr_i"),
        )
    )
    scored = (
        docb.join(F.broadcast(model), "bk")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("lr_i")).alias("liw_micro"))
    )
    pool = (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(F.coalesce("liw_micro", F.lit(0)).alias("liw_micro"))
    )
    th = pool.agg(
        F.expr(f"percentile(liw_micro, {_DSIR_KEEP_Q})").alias("q")
    ).first()[0]
    if th is None:
        # empty training corpus: fail loudly — a silent 0-threshold model
        # would keep everything downstream
        raise ValueError("dsir_build_model: empty training corpus")
    # ceil to int micro-units: keep == (liw_micro >= q) must survive the
    # integer freeze, and every integer >= q iff it is >= ceil(q)
    import math

    return model, int(math.ceil(th))


def dsir_write_model(
    spark: SparkSession, model: DataFrame, threshold_micro: int, path: str
) -> None:
    """Persist the selection model: the bucket table (observed buckets
    plus the bk = -1 OOV sentinel) and a one-row meta table carrying the
    frozen threshold — the x3 persisted-index lifecycle applied to data
    selection."""
    model.coalesce(1).write.mode("overwrite").parquet(f"{path}/buckets")
    spark.createDataFrame(
        [(int(threshold_micro),)], "threshold_micro long"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def dsir_read_model(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """Reload a persisted selection model (round-trips dsir_write_model).
    Explicit schemas (lm_read_model discipline): a rowless artifact dir
    must produce the actionable error below, never an inference crash."""
    model = spark.read.schema("bk long, lr_i long").parquet(f"{path}/buckets")
    row = (
        spark.read.schema("threshold_micro long").parquet(f"{path}/meta").first()
    )
    if row is None:
        # dsir_write_model always stamps exactly one meta row; a rowless
        # meta is a torn artifact and scoring against a guessed threshold
        # would silently mis-select every doc
        raise ValueError(f"dsir model at {path} has a rowless meta table")
    return model, int(row[0])


def dsir_score(
    docs: DataFrame, model: DataFrame, threshold_micro: int
) -> DataFrame:
    """Score a documents frame against a FROZEN selection model: exact
    integer weights, map-only against the broadcast B-row table — the
    shared kernel of the T14 streaming lane and the deploy==registry
    equivalence gate. Returns (doc_id, liw_micro, n_tok, keep).

    Tokens hashing to buckets absent from the model (possible whenever the
    scored data differs from the training corpus) take the smoothed
    unseen-bucket log-ratio from the model's bk = -1 sentinel row (written
    by dsir_build_model since r9); legacy sentinel-less models fall back
    to weight 0, preserving their pre-r9 liw_micro/keep verdicts exactly.
    n_tok counts EVERY token, join-independent — for a legacy artifact
    scoring OOV-bearing docs this is a deliberate semantic CHANGE from the
    pre-r9 inner join, which undercounted n_tok to the in-vocabulary
    tokens (the r8 ADVICE defect this fixes). On the training corpus every
    bucket is in-vocabulary, so the deploy==registry bit-equality gate is
    untouched by either path."""
    docb = _dsir_doc_buckets(docs.select("doc_id", "text"))
    # 1-row OOV default, broadcast-literal idiom: 0 when the sentinel is
    # absent (legacy artifact), else the persisted smoothed log-ratio
    oov = model.agg(
        F.coalesce(
            F.min(F.when(F.col("bk") == -1, F.col("lr_i"))), F.lit(0)
        ).alias("lr_oov")
    )
    scored = (
        docb.join(F.broadcast(model.filter(F.col("bk") >= 0)), "bk", "left")
        .crossJoin(F.broadcast(oov))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("cnt") * F.coalesce(F.col("lr_i"), F.col("lr_oov"))
            ).alias("liw_micro"),
            F.sum("cnt").alias("n_tok"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("liw_micro", F.lit(0)).alias("liw_micro"),
            F.coalesce("n_tok", F.lit(0)).alias("n_tok"),
            (
                F.coalesce("liw_micro", F.lit(0)) >= F.lit(threshold_micro)
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# x6_stratified_sample — EXACT per-source quotas without per-stratum sorts (r9)

_STRAT_BKT_SHIFT = 36  # 48-bit md5 prefix -> 4096 order-preserving buckets


@query(
    "x6_stratified_sample",
    oracle="""
    WITH h AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
               AS hv
      FROM documents
    ), r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n_s
      FROM h
    )
    SELECT doc_id, source FROM r WHERE 10 * rk <= n_s + 9
    ORDER BY doc_id
    """,
    tags=("X6", "W1", "F6"),
)
def x6_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT stratified sample: per source, precisely ceil(n_s / 10) docs —
    the q_s smallest (md5-hash, doc_id) pairs — deterministic across
    engines, runs and partitionings (the x6_hash_sample content-addressed
    discipline, upgraded from expected-rate Bernoulli to exact quotas:
    balanced mixes and eval splits need counts, not rates).

    THE SCALE SHAPE IS THE POINT: the naive form (the oracle) is a
    ROW_NUMBER per source — one sort per stratum, and a hot source (the
    Zipf regime: one crawl dwarfs every curated set) serializes into one
    task, the t6/t10 failure class on the source key. Instead, selection
    by distributed threshold search: the 48-bit hash's top 12 bits give
    4096 ORDER-PRESERVING coarse buckets; one map-side-combined
    (source, bucket) count frame (<= sources x 4096 rows) locates each
    source's threshold bucket B_s (first with cumulative >= q_s, windows
    over the bounded frame only); rows BELOW B_s are selected by a
    map-only broadcast-join filter, and only the ~n_s/4096 rows INSIDE
    B_s see a row_number — per-source serial work shrank 4096x, no
    corpus-sized sort anywhere. Selected set provably equals the naive
    form's (both take the q_s smallest (hv, doc_id) per source), so the
    oracle hash pins the scalable plan to the simple spec. Two narrow
    scans by construction (count pass + select pass — allowlisted in the
    duplicate-scan audit like x4_heavy_hitters)."""
    d = T(spark, sf_dir, "documents").select("doc_id", "source")
    hv = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
    )
    base = d.select("doc_id", "source", hv.alias("hv")).withColumn(
        "bkt", (F.col("hv") / (1 << _STRAT_BKT_SHIFT)).cast("long")
    )
    # the bucket-count frame is tiny (<= sources x 4096) but DERIVING it is
    # a corpus pass — checkpoint it so the threshold search's two window
    # consumers never re-scan the corpus
    bc = (
        base.groupBy("source", "bkt")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    w_run = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    cum = bc.select(
        "source",
        "bkt",
        "cnt",
        F.sum("cnt").over(w_run).alias("cum"),
        F.expr("div(sum(cnt) OVER (PARTITION BY source) + 9, 10)").alias("q_s"),
    )
    th = (
        cum.filter(F.col("cum") >= F.col("q_s"))
        .groupBy("source")
        .agg(F.min("bkt").alias("b_th"))
        .join(
            cum.select("source", "bkt", "cnt", "cum", "q_s"),
            ["source"],
        )
        .filter(F.col("bkt") == F.col("b_th"))
        .select(
            "source",
            "b_th",
            # rows still needed from INSIDE the threshold bucket
            (F.col("q_s") - (F.col("cum") - F.col("cnt"))).alias("need"),
        )
    )
    joined_low = (
        base.join(F.broadcast(th), "source")
        .filter(F.col("bkt") < F.col("b_th"))
        .select("doc_id", "source")
    )
    w_edge = Window.partitionBy("source").orderBy("hv", "doc_id")
    joined_edge = (
        base.join(F.broadcast(th), "source")
        .filter(F.col("bkt") == F.col("b_th"))
        .withColumn("rk", F.row_number().over(w_edge))
        .filter(F.col("rk") <= F.col("need"))
        .select("doc_id", "source")
    )
    return joined_low.unionByName(joined_edge).sortWithinPartitions("doc_id")


# ---------------------------------------------------------------------------
# x6_token_budget_fill — GLOBAL token-budget corpus fill by quality (r12)


@query(
    "x6_token_budget_fill",
    oracle=f"""
    WITH feat0 AS (
      {SQL_QUALITY_FEAT}
    ), tokc AS (
      SELECT doc_id,
             len(list_filter(string_split({SQL_NORM.format(c='text')}, ' '),
                             t -> length(t) > 0)) AS n_tok,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
               AS hv
      FROM documents
    ), f AS (
      SELECT t.doc_id, t.n_tok, CAST({SQL_QUALITY_PASSES} AS INT) AS passes, t.hv
      FROM tokc t JOIN feat0 USING (doc_id)
      WHERE t.n_tok > 0
    ), tot AS (
      SELECT CAST((SUM(n_tok) + 9) // 10 AS BIGINT) AS b FROM f
    ), r AS (
      SELECT doc_id, n_tok, passes,
             SUM(n_tok) OVER (ORDER BY passes DESC, hv ASC, doc_id ASC
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM f
    )
    SELECT doc_id, n_tok, passes FROM r, tot WHERE cum <= b
    ORDER BY doc_id
    """,
    tags=("X6", "X4", "W3", "F6", "A1"),
)
def x6_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-BUDGETED corpus selection: fill a global token budget (here
    ceil(total/10) — "train on the best 10% of tokens") with documents in
    quality-priority order — quality-gate passers first, random-fair
    within a tier via the 48-bit content hash, doc_id as the final total
    tie-break. A doc is selected iff its INCLUSIVE running token count in
    that order fits the budget; zero-token docs are excluded up front
    (they carry no budget mass, and their inclusion would hang on an
    engine-boundary cum==B equality). Every quantity is an integer, so
    the selected SET is bit-deterministic across engines/partitionings —
    DuckDB hash-matched.

    THE SCALE SHAPE IS THE POINT (the x6_stratified_sample threshold-search
    discipline, budget-weighted): the naive form (the oracle) is ONE
    global ORDER BY + running sum — a single-task sort at corpus scale.
    Instead: the hash's top 12 bits give 4096 order-preserving coarse
    buckets inside each quality tier; one map-side-combined
    (passes, bkt) TOKEN-mass frame (<= 2 x 4096 rows) locates the budget
    boundary group via a window over the bounded frame only; every group
    strictly before it is selected by a map-only broadcast-literal filter,
    and only the ~n/4096 rows INSIDE the boundary group see a row-level
    running sum. Selection provably equals the naive spec: pre-boundary
    groups have group-cum < B (so every inclusive prefix fits), and any
    doc after the boundary group starts at cum >= B + its n_tok > B.

    r12 (guide §2.3/§4 — tokenize once): `base` is consumed THREE times
    (mass pass, pre-boundary select, boundary-group select), and before
    r12 each consumer re-ran the corpus scan + tokenizer + quality-regex
    chain — three full text passes where the docstring promised two. The
    skinny (doc_id, n_tok, passes, hv, bkt) projection (~40 B/row vs the
    KB-scale text it derives from) is now localCheckpoint'd once; all
    three consumers read the checkpointed rows, so the corpus text is
    scanned and tokenized exactly ONCE per run (measured 2.28 -> ~1.4 s
    at sf0.1; at 100 TB this removes two full-corpus regex passes). Not
    cross-run caching: the checkpoint lives and dies inside this query's
    single computation, exactly like the existing `bc` checkpoint."""
    d = spread(T(spark, sf_dir, "documents"))
    q = quality_feature_exprs()
    hv = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
    )
    base = (
        d.select(
            "doc_id",
            token_count_expr(F.col("text")).alias("n_tok"),
            q["passes"].cast("int").alias("passes"),
            hv.alias("hv"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn("bkt", F.expr(f"hv div {1 << _STRAT_BKT_SHIFT}"))
        .localCheckpoint(eager=False)
    )
    # bounded (passes, bkt) token-mass frame; checkpointed because the
    # threshold search consumes it twice and DERIVING it is a corpus pass
    bc = (
        base.groupBy("passes", "bkt")
        .agg(F.sum("n_tok").alias("toks"))
        .localCheckpoint(eager=False)
    )
    w_run = (
        Window.orderBy(F.col("passes").desc(), F.col("bkt").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bc.select(
        "passes", "bkt", "toks", F.sum("toks").over(w_run).alias("cum")
    )
    tot = bc.agg(F.expr("div(sum(toks) + 9, 10)").alias("b"))
    th = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") >= F.col("b"))
        .orderBy(F.col("passes").desc(), F.col("bkt").asc())
        .limit(1)
        .select(
            F.col("passes").alias("p_th"),
            F.col("bkt").alias("b_th"),
            (F.col("cum") - F.col("toks")).alias("cum_before"),
            "b",
        )
    )
    pre = (
        base.crossJoin(F.broadcast(th))
        .filter(
            (F.col("passes") > F.col("p_th"))
            | ((F.col("passes") == F.col("p_th")) & (F.col("bkt") < F.col("b_th")))
        )
        .select("doc_id", "n_tok", "passes")
    )
    w_in = (
        Window.orderBy("hv", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    edge = (
        base.crossJoin(F.broadcast(th))
        .filter((F.col("passes") == F.col("p_th")) & (F.col("bkt") == F.col("b_th")))
        .withColumn("run", F.sum("n_tok").over(w_in))
        .filter(F.col("cum_before") + F.col("run") <= F.col("b"))
        .select("doc_id", "n_tok", "passes")
    )
    return pre.unionByName(edge).sortWithinPartitions("doc_id")


@query(
    "x6_dedup_weight",
    oracle=f"""
    WITH RECURSIVE {_CC_SQL_CTES}, assign AS (
      SELECT node AS doc_id, MIN(reachable) AS cluster_id
      FROM reach GROUP BY node
    ), sized AS (
      SELECT doc_id, cluster_id,
             CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size
      FROM assign
    )
    SELECT doc_id, cluster_id, cluster_size,
           FLOOR(1.0 / cluster_size * 10000.0 + 0.5) / 10000.0 AS weight
    FROM sized ORDER BY doc_id
    """,
    tags=("X6", "X2", "A1", "W3"),
)
def x6_dedup_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup: instead of DROPPING near-duplicates, downweight every
    cluster member to 1/cluster_size so each distinct passage contributes
    one unit of training signal regardless of how many copies the crawl
    caught (the duplication-aware loss-reweighting alternative to hard
    removal — keeps rare in-cluster variation a hard drop would lose).
    Third consumer of the CC kernel after x2_dedup_clusters and
    x2_cluster_keeper.

    Scale shape: cluster assignment reuses cluster_assignments; the size
    is ONE unordered window COUNT over the cluster_id partition (no sort,
    so a hot boilerplate cluster costs a count, never an ordering); the
    weight is one exact division quantized at 4 dp identically in both
    engines."""
    sized = cluster_assignments(spark, sf_dir).withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
    )
    return sized.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        _q4(F.lit(1.0) / F.col("cluster_size")).alias("weight"),
    ).orderBy("doc_id")


@query(
    "x6_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) + 1.0) / 4294967297.0) / n_chars AS es_key
      FROM documents
    )
    SELECT doc_id, source, n_chars,
           FLOOR(es_key * 10000.0 + 0.5) / 10000.0 AS es_key_q
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT 100
    """,
    tags=("X6", "O2", "F3", "F6"),
)
def x6_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted sampling without replacement (Efraimidis & Spirakis
    2006, public): keep the top-k docs by ln(u)/w with u a deterministic
    uniform from the content hash and w = n_chars — each doc's inclusion
    probability is proportional to its length, the one-pass weighted
    reservoir every data pipeline needs for weight-proportional subsets
    (u^(1/w) order-equivalent to ln(u)/w since ln is monotone).

    Scale shape: the key is map-only column math (md5 -> 32-bit uniform ->
    one ln + one division, identical IEEE in both engines — the LM-score
    ln-parity precedent); top-k runs as TakeOrderedAndProject
    (per-partition heaps + driver merge of k-row heads), so the full pass
    is scan-bound with NO shuffle at any corpus size. Deterministic
    across engines/runs/partitionings by construction — rand()-based
    weighted sampling is neither. Emitted key quantized at 4 dp; the
    ORDER uses the raw key with doc_id tiebreak."""
    d = spread(T(spark, sf_dir, "documents"))
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    es_key = F.log((h + F.lit(1.0)) / F.lit(4294967297.0)) / F.col("n_chars")
    return (
        d.select("doc_id", "source", "n_chars", es_key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(100)
        .select(
            "doc_id", "source", "n_chars", _q4(F.col("es_key")).alias("es_key_q")
        )
    )


# ---------------------------------------------------------------------------
# ingest_funnel_batch — the composed production ingest funnel (T21 kernel)


def ingest_funnel_batch(
    docs: DataFrame, w: list[int] | None, bench: DataFrame
) -> DataFrame:
    """Per-doc verdicts of the COMPOSED production ingest funnel — the four
    deploy lanes (T15 exact dedup -> T11 MinHash-LSH near-dup -> T13 frozen
    quality classifier -> T20 benchmark decontamination) applied
    sequentially, each stage over the previous stage's survivors:

      k1 = first exact emitter of its content hash (MIN doc_id per sha256)
      k2 = k1 AND not LSH-first-seen-duplicate among k1 survivors
      k3 = k2 AND frozen classifier pred == 1   (w=None: keep-all, k3=k2)
      k4 = k3 AND not benchmark-contaminated (frozen benchset)

    `w=None` forces the quality stage to keep-all (k3 = k2), which is what
    makes the t21_funnel_skeleton twin fully SQL-expressible: the other
    three stages are the hash-matched standalone kernels, so the composed
    chain gets a DuckDB oracle auditing stage ORDERING cross-engine while
    t21 itself stays the 4-stage live==batch capstone (r11 verdict ask #1).

    Precondition (r12 advisor note): `doc_id` must be UNIQUE within `docs`.
    The skinny k1 stage re-attaches per-doc flags with a doc_id equi-join
    (one k1s row per input row), so a duplicated doc_id would duplicate
    rows where the pre-r12 window form preserved multiplicity. Every
    caller feeds ingest keys (unique by construction: the batch fixtures'
    primary key, the streaming lane's per-record id), and the live==batch
    bit-equality suite would catch a violation as a row-count drift.

    This is THE batch definition the composed streaming lane
    (streaming/pipeline.ingest_funnel_stream) must reproduce batch-for-batch:
    every stage kernel here is the exact function its standalone lane
    deploys (sha2 window / minhash_fs_bands / qc_score / decontam_score),
    so stage semantics cannot drift between the composed and standalone
    forms. Output: (doc_id, source, k1, k2, k3, k4).

    Scale shape (r12, guide §2.2 — shuffle fewer bytes): the exact stage
    used to be a window PARTITION BY sha2(text), i.e. a full TEXT-PAYLOAD
    shuffle on the hash, followed by a second payload shuffle when the
    skinny LSH verdicts re-attach by doc_id — the corpus crossed the
    network twice. k1 is now computed entirely on a skinny
    (doc_id, sha256) projection: one map-side-combined groupBy(hash) for
    the per-hash MIN doc_id, one skinny join back — ~100 B/row where the
    payload is KB-scale — and the payload itself shuffles exactly ONCE
    (the doc_id join that attaches k1; the checkpointed result's doc_id
    partitioning is what every later skinny re-attach reuses). NULL text
    rides a sentinel key (no 64-hex collision possible) so the grouping
    matches the old window's NULL-partition semantics — the r11
    eqNullSafe lesson applied at the source. Then: the minhash band
    kernel over exact survivors (three skinny-row shuffles), two
    frozen-artifact joins (broadcast (B+1)-row weights, broadcast
    benchmark-bounded gram set) each over a strictly shrinking survivor
    set — the funnel ORDER is the optimization: the cheapest filter
    (exact hash) runs first so the expensive stages see only survivors."""
    from otlp2parquet_spark.extensions.dedup import minhash_fs_bands
    from otlp2parquet_spark.extensions.text import qc_score

    d = docs.select("doc_id", "source", "text")
    # skinny exact-stage index: NULL text -> sentinel (cannot collide with
    # 64-char hex), so NULL-text docs group together exactly like the old
    # window's NULL partition did
    h = F.coalesce(
        F.sha2(F.col("text").cast("binary"), 256), F.lit("␀null-text")
    )
    sk = d.select("doc_id", h.alias("h"))
    firsts = sk.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    k1s = sk.join(firsts, "h").select(
        "doc_id", (F.col("doc_id") == F.col("first_id")).alias("k1")
    )
    flags = d.join(k1s, "doc_id").localCheckpoint(
        eager=False
    )  # the ONE payload shuffle; two consumers: band branch + ledger
    bands = minhash_fs_bands(flags.filter("k1").select("doc_id", "text"))
    w_b = Window.partitionBy("band", "bsig")
    lsh = (
        bands.withColumn("first_id", F.min("doc_id").over(w_b))
        .groupBy("doc_id")
        .agg(F.max(F.col("doc_id") > F.col("first_id")).alias("nd"))
    )
    f2 = flags.join(lsh, "doc_id", "left").withColumn(
        "k2", F.col("k1") & ~F.coalesce("nd", F.lit(False))
    )
    if w is None:
        f3 = f2.withColumn("k3", F.col("k2"))
    else:
        q = qc_score(f2.filter("k2").select("doc_id", "text"), w).select(
            "doc_id", F.col("pred").alias("q_pred")
        )
        f3 = f2.join(q, "doc_id", "left").withColumn(
            "k3", F.col("k2") & (F.coalesce("q_pred", F.lit(0)) == 1)
        )
    dec = decontam_score(f3.filter("k3").select("doc_id", "text"), bench).select(
        "doc_id", "contaminated"
    )
    return (
        f3.join(dec, "doc_id", "left")
        .withColumn("k4", F.col("k3") & ~F.coalesce("contaminated", F.lit(False)))
        .select("doc_id", "source", "k1", "k2", "k3", "k4")
    )


def funnel_ledger(verdicts: DataFrame) -> DataFrame:
    """Per-source retention ledger over (doc_id, source, k1..k4) verdicts —
    ONE report shape shared by the t21 capstone and the t21_funnel_skeleton
    twin (the exact_probe_update/band_probe_update discipline applied to
    the report layer), so their ledgers are comparable column-for-column."""
    bsum = lambda c, name: F.sum(F.col(c).cast("long")).alias(name)  # noqa: E731
    return (
        verdicts.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            bsum("k1", "n_exact_kept"),
            bsum("k2", "n_neardup_kept"),
            bsum("k3", "n_quality_kept"),
            bsum("k4", "n_clean_kept"),
            _q4(
                F.sum(F.col("k4").cast("long")).cast("double") / F.count("*")
            ).alias("retention"),
        )
        .orderBy("source")
    )


@query(
    "t21_funnel_skeleton",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, text,
             doc_id = MIN(doc_id) OVER (PARTITION BY sha256(text)) AS k1
      FROM documents
    ), tok AS (
      SELECT doc_id, string_split({SQL_NORM.format(c='text')}, ' ') AS toks
      FROM base WHERE k1
    ), grams AS (
      SELECT DISTINCT doc_id,
             toks[g.i] || ' ' || toks[g.i + 1] || ' ' || toks[g.i + 2] AS gram
      FROM tok, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) g
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h1,
             CAST(('0x' || substr(md5(gram), 17, 10)) AS BIGINT) AS h2
      FROM grams
    ), mins AS (
      SELECT doc_id, {_MHFS_MINS}
      FROM h GROUP BY doc_id
    ), bands AS (
      {_MHFS_BANDS}
    ), firsts AS (
      SELECT band, bsig, MIN(doc_id) AS first_id FROM bands GROUP BY band, bsig
    ), ndflags AS (
      SELECT b.doc_id, BOOL_OR(b.doc_id > f.first_id) AS nd
      FROM bands b JOIN firsts f ON b.band = f.band AND b.bsig = f.bsig
      GROUP BY b.doc_id
    ), s2 AS (
      SELECT base.doc_id, base.source, base.text, base.k1,
             base.k1 AND NOT COALESCE(nd.nd, FALSE) AS k2
      FROM base LEFT JOIN ndflags nd ON base.doc_id = nd.doc_id
    ), btok AS (
      SELECT doc_id, string_split({SQL_NORM.format(c='text')}, ' ') AS toks
      FROM documents WHERE doc_id % 97 = 0
    ), bgrams AS (
      SELECT DISTINCT toks[g.i] || ' ' || toks[g.i + 1] || ' ' || toks[g.i + 2] AS gram
      FROM btok, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) g
    ), stok AS (
      SELECT doc_id, string_split({SQL_NORM.format(c='text')}, ' ') AS toks
      FROM s2 WHERE k2
    ), sgrams AS (
      SELECT DISTINCT doc_id,
             toks[g.i] || ' ' || toks[g.i + 1] || ' ' || toks[g.i + 2] AS gram
      FROM stok, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) g
    ), hits AS (
      SELECT s.doc_id, COUNT(*) AS n_hits
      FROM sgrams s JOIN bgrams b USING (gram)
      GROUP BY s.doc_id
    ), verdicts AS (
      SELECT s2.doc_id, s2.source, s2.k1, s2.k2, s2.k2 AS k3,
             s2.k2 AND NOT COALESCE(h.n_hits >= 5, FALSE) AS k4
      FROM s2 LEFT JOIN hits h ON s2.doc_id = h.doc_id
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CAST(k1 AS BIGINT)) AS BIGINT) AS n_exact_kept,
           CAST(SUM(CAST(k2 AS BIGINT)) AS BIGINT) AS n_neardup_kept,
           CAST(SUM(CAST(k3 AS BIGINT)) AS BIGINT) AS n_quality_kept,
           CAST(SUM(CAST(k4 AS BIGINT)) AS BIGINT) AS n_clean_kept,
           {_Q4.format(x='CAST(SUM(CAST(k4 AS BIGINT)) AS DOUBLE) / COUNT(*)')}
             AS retention
    FROM verdicts
    GROUP BY source ORDER BY source
    """,
    tags=("T21", "X1", "X2", "X6", "T15", "T11", "T20"),
)
def t21_funnel_skeleton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-expressible skeleton of the composed ingest funnel — the
    same ingest_funnel_batch kernel as the t21 capstone with the quality
    stage forced keep-all (w=None -> k3 = k2), which removes the one
    iteratively-trained stage and makes the full composed chain
    DuckDB-replayable. The oracle chains the three standalone hash-matched
    stage oracles (x1_exact_dedup's sha256 window -> x2_minhash_firstseen's
    md5/K-M LSH CTEs -> x6_contamination's trigram-overlap CTEs) in funnel
    order, each stage reading the previous stage's SURVIVORS — the
    strongest cross-engine audit of stage ORDERING semantics: any drift in
    which stage sees which docs breaks the hash.

    Benchset = the doc_id % 97 == 0 slice's distinct trigrams over the
    FULL corpus (the t21 convention — bench docs themselves flow through
    the funnel and get flagged contaminated), NOT x6_contamination's
    bench/corpus split.

    Scale shape: identical to ingest_funnel_batch (one uniform-key window,
    three skinny-row LSH shuffles over exact survivors, one broadcast
    benchset join over near-dup survivors, doc_id-co-partitioned
    re-attaches); the ledger is a tiny per-source agg."""
    d = spread(T(spark, sf_dir, "documents"))
    bench = (
        doc_gram_set(d.filter(F.col("doc_id") % 97 == 0))
        .select("gram")
        .distinct()
    )
    return funnel_ledger(ingest_funnel_batch(d, None, bench))
