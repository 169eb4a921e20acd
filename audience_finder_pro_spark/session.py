"""SparkSession factory + table catalog.

Replaces the reference's Streamlit session/auth state machine
(/root/reference/app.py:325-348) with a plain SparkSession builder and
parquet-table registration (SURVEY §3.3/§3.4).

Scale notes (100 TB design point):
- AQE on: runtime join-strategy switch, skew-join splitting, partition
  coalescing — the knobs that matter when stats are wrong at scale.
- shuffle.partitions is sized for local[32] here; on a real cluster it
  should be ~2-3× total executor cores, and AQE coalescing makes the
  exact number less critical.
- Arrow on: every pandas exchange (Pandas UDFs, toPandas on small final
  results) goes through columnar Arrow batches, not pickled rows.
- session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _default_driver_mem() -> str:
    """24g, capped at half the host's physical memory: in local mode the
    driver heap is the whole engine's heap, and a heap larger than the
    host lets the OS kill the JVM instead of Spark spilling."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 // 2**20
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows) or no such name
        return "24g"
    return f"{min(24 * 1024, half_mb)}m"


def get_spark(app_name: str = "audience_finder_pro_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[N] for tests/bench; on a cluster the master/memory settings come
    from spark-submit and everything here still applies.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_parts = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true): the tuning-guide
        # suggestion of false was A/B-measured at sf0.1 and lost badly —
        # coalescing small stages to one task serializes CPU-bound work
        # (q04 0.24s -> 2.4s, bench total +33%). Task-launch floor is
        # cheaper than lost cores at every SF this engine runs locally.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.ts is parquet TIMESTAMP(NANOS) which Spark has no native
        # type for — read as long and convert in load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    return builder.getOrCreate()


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/column pruning into it.

    The unresolved scan DataFrame is memoized per (session, sf_dir, table):
    this is what a real catalog/metastore does — resolve the relation once,
    hand out the same logical plan. Each `spark.read.parquet` call costs a
    driver-side file listing + footer schema read (~70ms), which at toy SF
    is a large share of total query wall time (measured: q29 spent 0.7s of
    its 1.0s registering 10 tables). Execution still re-reads the files;
    only the relation resolution is cached. The memo lives on the session
    object so a foreign session (the correctness driver's) gets its own,
    and it dies with the session.

    ``fan_out=True`` repartitions the scan to the session's parallelism
    when the file yields fewer splits than cores (the fixtures are
    single-row-group parquet — irreducibly ONE task per scan, so every
    scan-rooted pipeline stage is single-threaded until its first
    exchange). CPU-heavy per-document work (tokenize/shingle/decode)
    must opt in or it serializes on one core; at real scale inputs are
    many-files/many-row-groups and the gate makes this a no-op. The
    round-robin exchange carries the raw scan rows once — strictly less
    data than the full token-stream shuffle the old window-based
    shingler paid for the same parallelism.
    """
    memo = getattr(spark, "_afp_table_memo", None)
    if memo is None:
        memo = {}
        spark._afp_table_memo = memo
    if fan_out:
        key = (sf_dir.rstrip("/"), name, "fan")
        if key in memo:
            return memo[key]
        base = load_table(spark, sf_dir, name)
        par = spark.sparkContext.defaultParallelism
        df = base.repartition(par) if base.rdd.getNumPartitions() < par else base
        memo[key] = df
        return df
    key = (sf_dir.rstrip("/"), name)
    if key in memo:
        return memo[key]
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects unless
        # nanosAsLong is on. The session factory sets it, but queries() may
        # be driven by a FOREIGN SparkSession (the driver's) — set it
        # defensively here; it is a dynamic SQL conf. Same for the session
        # timezone: formatted-timestamp outputs assume UTC (oracle parity).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # The fixture generator has shipped events.ts as both parquet
        # TIMESTAMP(NANOS) (read as BIGINT under nanosAsLong) and
        # TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ) across rounds — adapt to
        # whichever encoding is on disk, normalizing to session-TZ TIMESTAMP
        # (UTC) so downstream window/date semantics match the DuckDB oracle.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # nanos → microsecond timestamp (floor), matching DuckDB's ns→µs read
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    memo[key] = df
    return df


def register_catalog(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (SQL + DataFrame access).

    Idempotent per (session, sf_dir): re-registering the same views is 10
    Py4J roundtrips of pure overhead on every SQL-interface query, so the
    last-registered sf_dir is tracked and reuse is a dict lookup. Pointing
    the same session at a different sf_dir re-registers (views are
    replaced, so the switch is safe).
    """
    if getattr(spark, "_afp_catalog_sf", None) == sf_dir:
        return spark._afp_catalog_tables
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    spark._afp_catalog_sf = sf_dir
    spark._afp_catalog_tables = out
    return out
