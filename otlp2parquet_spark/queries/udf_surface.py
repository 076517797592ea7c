"""U-group: the UDF/UDAF/UDTF surface (SURVEY §2.3 U1-U5).

U1 (scalar pandas UDF) and U4 (mapInArrow/mapInPandas) are load-bearing in
the OTLP decode pipeline (otel/ingest.py); U2 (applyInPandas grouped-map) is
the parity writer (otel/writer.py). This module declares every U id as an
oracle-matched query as well, so the whole surface is DuckDB-checked, not
just operationally exercised: U1, U2, U3 (grouped-agg pandas UDF),
U4 (mapInArrow batch transform — r8; previously the one SURVEY §2.3 id with
no named correctness row) and U5 (Python UDTF).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import DoubleType, LongType

from otlp2parquet_spark.queries.registry import T, query


@pandas_udf(DoubleType())
def _weighted_price(price: pd.Series, qty: pd.Series) -> float:
    """Quantity-weighted mean price — a shape builtins don't provide
    directly (sum(p*q)/sum(q) fused in one grouped-agg kernel).

    Terms are sorted before summing: the Series order follows shuffle order,
    and float accumulation order must not leak into the ROUND(·,4)-matched
    result (SURVEY §2.3 determinism rules)."""
    q = qty.sum()
    if not q:
        return 0.0
    terms = (price * qty).sort_values(kind="stable")
    return float(terms.sum() / q)


# type OBJECT, not a DDL string: string return types parse via the active
# SparkContext at decoration time, which breaks plain module import
@pandas_udf(LongType())
def _group_size(qty: pd.Series) -> int:
    return len(qty)


@pandas_udf(DoubleType())
def _charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
    """U1 scalar kernel: whole Arrow batches as pandas Series, vectorized
    numpy arithmetic, no per-row Python. The op order matches the oracle's
    left-to-right evaluation exactly, so the doubles are bit-identical
    (pure +,*: no transcendental / rounding divergence between engines)."""
    return price * (1.0 - disc) * (1.0 + tax)


@query(
    "u1_scalar_pandas_udf",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           CASE WHEN l_extendedprice * (1 - l_discount) * (1 + l_tax) >= 80000
                THEN 'high'
                WHEN l_extendedprice * (1 - l_discount) * (1 + l_tax) >= 30000
                THEN 'mid'
                ELSE 'low' END AS band
    FROM lineitem
    WHERE l_quantity > 45
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("U1",),
)
def u1_scalar_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: scalar pandas UDF in a projection — Arrow-batched columnar
    transfer, one Python worker per partition, banding done JVM-side on the
    UDF's output so only the kernel itself leaves the JVM."""
    li = T(spark, sf_dir, "lineitem")
    charge = _charge("l_extendedprice", "l_discount", "l_tax")
    return (
        li.filter(F.col("l_quantity") > 45)
        .select(
            "l_orderkey",
            "l_linenumber",
            charge.alias("charge"),
        )
        .withColumn(
            "band",
            F.when(F.col("charge") >= 80000, "high")
            .when(F.col("charge") >= 30000, "mid")
            .otherwise("low"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "u3_grouped_agg_pandas_udf",
    oracle="""
    SELECT l_returnflag,
           CAST(ROUND(CAST(SUM(l_extendedprice * l_quantity) / SUM(l_quantity)
                AS DECIMAL(38,10)), 4) AS DOUBLE) AS weighted_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("U3", "A1"),
)
def u3_grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: Arrow-batched grouped aggregation in Python. The kernel receives
    whole group columns as pandas Series (vectorized, no per-row Python), and
    Spark still runs the surrounding groupBy shuffle JVM-side."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        # Spark disallows mixing pandas-UDF and built-in aggregates in one
        # agg, so the row count is a second pandas-UDF aggregate
        .agg(
            F.round(_weighted_price("l_extendedprice", "l_quantity"), 4).alias("weighted_price"),
            _group_size("l_quantity").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@udtf(returnType="prop_key: string, prop_value: bigint")
class _PropsExplode:
    """U5: Python UDTF — one input row expands to N output rows (the OTLP
    request -> records explosion in miniature)."""

    def eval(self, props: str):
        if not props:
            return
        try:
            obj = json.loads(props)
        except json.JSONDecodeError:
            return
        if isinstance(obj, dict):
            for k in sorted(obj):
                v = obj[k]
                yield k, int(v) if isinstance(v, (int, float)) and not isinstance(v, bool) else None


@query(
    "u5_udtf_props_explode",
    oracle="""
    SELECT event_id, k AS prop_key,
           CAST(json_extract(props, '$.' || k) AS BIGINT) AS prop_value
    FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events)
    ORDER BY event_id, prop_key
    """,
    tags=("U5", "F5"),
)
def u5_udtf_props_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: explode each event's props JSON object into (key, value) rows via
    a lateral-joined Python UDTF."""
    T(spark, sf_dir, "events").createOrReplaceTempView("events_u5")
    spark.udtf.register("props_explode", _PropsExplode)
    return spark.sql(
        """
        SELECT e.event_id, p.prop_key, p.prop_value
        FROM events_u5 e, LATERAL props_explode(e.props) p
        ORDER BY e.event_id, p.prop_key
        """
    )


@query(
    "u4_mapinarrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price
    FROM lineitem
    WHERE l_quantity > 45
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("U4",),
)
def u4_mapinarrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4: mapInArrow batch transform — whole Arrow RecordBatches enter the
    Python worker with ZERO pandas conversion (the cheapest Python boundary
    Spark has; this is the same primitive the OTLP decode kernel in
    otel/ingest.py is built on, declared here over
    a synthetic table so the id has its own oracle row). The kernel is pure
    pyarrow.compute (vectorized, per-row Python never runs), the filter is
    applied BEFORE the Arrow stage so it pushes to the parquet scan, and
    the arithmetic is the same left-to-right p*(1-d) as the oracle, so the
    doubles are bit-identical."""
    import pyarrow as pa

    li = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount")
    )

    def kernel(batches):
        import pyarrow.compute as pc

        for b in batches:
            disc = pc.multiply(
                b.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0, pa.float64()), b.column("l_discount")),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("l_orderkey"), b.column("l_linenumber"), disc],
                ["l_orderkey", "l_linenumber", "disc_price"],
            )

    return li.mapInArrow(
        kernel, "l_orderkey bigint, l_linenumber int, disc_price double"
    ).orderBy("l_orderkey", "l_linenumber")


def _normalize_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group z-score — the canonical applyInPandas grouped-map kernel."""
    mean = pdf["value"].mean()
    std = pdf["value"].std(ddof=1)
    pdf = pdf.copy()
    pdf["value_z"] = ((pdf["value"] - mean) / std).round(4) if std and std > 0 else 0.0
    return pdf[["event_id", "event_type", "value_z"]]


@query(
    "u2_grouped_map_normalize",
    oracle="""
    SELECT event_id, event_type,
           CAST(ROUND(CAST((value - AVG(value) OVER (PARTITION BY event_type))
                / STDDEV_SAMP(value) OVER (PARTITION BY event_type)
                AS DECIMAL(38,10)), 4) AS DOUBLE) AS value_z
    FROM events
    ORDER BY event_id
    """,
    tags=("U2",),
)
def u2_grouped_map_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: per-group normalization with applyInPandas (grouped-map). The
    whole group lands in one pandas frame — bounded here by event_type
    cardinality; for unbounded groups the window formulation (the oracle's
    own shape) is the scale-safe variant."""
    e = T(spark, sf_dir, "events")
    return (
        e.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(_normalize_group, "event_id long, event_type string, value_z double")
        .orderBy("event_id")
    )
