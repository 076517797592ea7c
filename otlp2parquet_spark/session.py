"""SparkSession construction with scale-oriented defaults.

Local testing runs on local[N]; the conf set here is chosen so the same code
is correct and fast on a large cluster:

- AQE on (runtime re-planning, skew-join handling, partition coalescing).
- Arrow enabled for all Python<->JVM exchange (pandas UDFs, toPandas).
- Session timezone pinned to UTC — the reference stores all timestamps as
  timestamp[us, UTC] (reference src/writer/write.rs:24) and oracle matching
  compares wall-clock values.
- shuffle.partitions kept moderate locally; on a real cluster AQE coalesces
  from a high initial number, so we only set the initial value.
- File-listing parallelism capped at the same cores: a stream's getBatch
  re-lists the files its latestOffset just found, and past 32 paths Spark
  runs that as a job with one task per file (perfbench ingest, 4 vCPUs: the
  ~79-file micro-batch's getBatch went from 0.9-1.5 s to 0.15-0.35 s).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Scale the local-mode heap to the machine: in local[N] every executor
    thread shares the ONE driver JVM heap, and at 8g the 32-thread bench
    OOMed intermittently in the partitioned parity-write stage on a 128 GiB
    box. 16g fixes that, but is hostile to small CI hosts — so size by
    physical memory and let SPARK_DRIVER_MEMORY override either way."""
    try:
        total_gib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "8g"
    if total_gib >= 64:
        return "16g"
    if total_gib >= 16:
        return "8g"
    return "4g"


def get_spark(
    app_name: str = "otlp2parquet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # unset or empty: the cores this process may run on
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # past 32 paths a listing is a job of min(paths, 10000) tasks
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Parquet schema cache, keyed on file path (r12 optimization, guide §1/§6):
# a bare spark.read.parquet() launches a schema-inference JOB (~120 ms wall
# measured warm) on every call; with an explicit schema the read is pure
# metadata (0 jobs, ~40 ms). The benched suite loads tables ~150 times per
# pass, so inference alone cost ~10 s/pass of serial driver time. A path's
# footer schema cannot change while the process runs (the test fixtures are
# immutable), so inferring once per path per process and pinning thereafter
# is exactly the file-listing-cache discipline Spark itself applies — it
# caches METADATA, never data or results.
#
# Contract (r12 advisor note): load_table assumes a path's parquet schema
# is IMMUTABLE for the life of the process — true for the read-only
# /root/testdata fixtures and for any versioned lake layout where schema
# evolution lands under a new path. A caller that regenerates fixtures or
# appends with an evolved schema in-process must call clear_schema_cache()
# first, or reads silently keep the stale pinned schema (missing columns
# come back NULL with no error).
_SCHEMA_CACHE: dict[str, object] = {}


def clear_schema_cache() -> None:
    """Drop every pinned parquet schema (see _SCHEMA_CACHE contract)."""
    _SCHEMA_CACHE.clear()


def _read_parquet_pinned(spark: SparkSession, path: str):
    cached = _SCHEMA_CACHE.get(path)
    if cached is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
        return df
    return spark.read.schema(cached).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one synthetic table (see /root/repo/TESTDATA.md).

    events.parquet carries TIMESTAMP(NANOS) which Spark's parquet reader
    rejects (PARQUET_TYPE_ILLEGAL); read nanos as long and truncate ns -> µs
    explicitly — the same conversion the OTLP pipeline applies to *UnixNano
    fields (reference src/writer/write.rs:24), and identical to DuckDB's
    ns -> µs read behavior, so oracle comparisons agree.
    """
    from pyspark.sql import functions as F

    if name == "events":
        # the conf must be set for the SCAN, not just inference: the
        # vectorized reader consults it when mapping TIMESTAMP(NANOS)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet_pinned(spark, os.path.join(sf_dir, "events.parquet"))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: ns epoch (~1.7e18) exceeds double's 53-bit
            # mantissa, so a float `/ 1000` would corrupt microseconds
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
        return df
    return _read_parquet_pinned(spark, os.path.join(sf_dir, f"{name}.parquet"))


def _estimated_scan_partitions(df) -> int:
    """Estimate how many scan partitions `df` would get, WITHOUT building
    the RDD: Spark's own split math (FilePartition.maxSplitBytes) applied
    to the LEAF relation's size statistic. `df.rdd.getNumPartitions()` is
    exact but costs a full physical planning + RDD conversion per call
    (measured 30-230 ms of serial driver wall); the stats walk is ~1-2 ms.

    r13 (r12 verdict ask #5 + advisor note): the estimate is taken ONLY
    when the optimized plan is Project/Filter nodes over a single leaf
    relation — the one shape where the statistic provably equals what
    split planning sees. The r12 version read sizeInBytes at the plan
    ROOT, where column-pruned projections scale the size DOWN (spurious
    re-spread of an already-wide scan) and join/explode-inflated stats
    could skip a needed spread. Scan partitioning is a function of FILE
    bytes — projections and pushed filters don't change the splits — so
    walking to the leaf restores exactness for every shape we accept, and
    anything else (post-join, post-aggregate, post-explode frames) raises
    so the caller falls back to the exact probe.
    tests/test_spread_decisions.py pins estimate == probe per category."""
    sess = df.sparkSession
    sc = sess.sparkContext
    node = df._jdf.queryExecution().optimizedPlan()
    while node.getClass().getSimpleName() in ("Project", "Filter"):
        node = node.children().apply(0)
    if node.getClass().getSimpleName() != "LogicalRelation":
        raise ValueError(
            f"not a leaf scan: {node.getClass().getSimpleName()}"
        )
    size = int(node.stats().sizeInBytes())

    def _bytes_conf(key: str, default: str) -> int:
        val = sess.conf.get(key, default)
        try:
            return int(val)
        except ValueError:  # e.g. "128MB" when left at the Spark default
            return int(
                sess._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(val)
            )

    max_pb = _bytes_conf("spark.sql.files.maxPartitionBytes", "134217728")
    open_cost = _bytes_conf("spark.sql.files.openCostInBytes", "4194304")
    max_split = min(max_pb, max(open_cost, size // max(sc.defaultParallelism, 1)))
    return max(1, -(-size // max(max_split, 1)))


def spread(df, multiplier: int = 1):
    """Repartition a DataFrame to cluster parallelism before CPU-heavy
    per-row work (regex sweeps, per-gram hashing, vector math).

    Small dimension files arrive as 1-3 partitions (one per parquet file /
    128 MiB split); everything downstream would then run on one core. At
    100 TB inputs are naturally wide, but an explicit spread before a
    compute-bound stage is still correct whenever the upstream stage has
    fewer partitions than cores (e.g. after a selective filter or a
    small-table scan). The wideness check uses the leaf relation's size
    statistic (see _estimated_scan_partitions) when the input is a
    Project/Filter-over-scan shape — every current call site — and falls
    back to the exact `.rdd.getNumPartitions()` probe (30-230 ms of serial
    driver wall) for any derived frame, where the planner estimate can
    diverge arbitrarily from the real partition count (r12 verdict #5)."""
    target = df.sparkSession.sparkContext.defaultParallelism * multiplier
    try:
        est = _estimated_scan_partitions(df)
    except ValueError:  # not a leaf scan: only the exact probe is reliable
        est = df.rdd.getNumPartitions()
    if est >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every synthetic table as a temp view for spark.sql queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
