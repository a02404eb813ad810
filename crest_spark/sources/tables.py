"""Parquet star-schema loaders.

The reference discovers sources at runtime and takes schemas off the wire
(``/root/reference/pkg/ingestor/flight_reader.go:120-148``); the Spark-native
equivalent is self-describing parquet: ``spark.read.parquet`` needs no
declared schema, Catalyst prunes columns and pushes predicates into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
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
]

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_DIMS = {"region", "nation", "supplier"}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_ns_timestamps(df: DataFrame, cols: tuple[str, ...] = ("ts",)) -> DataFrame:
    """Convert nanosecond-epoch LongType columns to micro timestamps.

    Spark 4.x reads parquet TIMESTAMP(NANOS) only via
    ``spark.sql.legacy.parquet.nanosAsLong``; this restores a proper
    TimestampType (floor-truncated to micros, matching unix_timestamp
    floor semantics downstream).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    for c in cols:
        if c in df.columns and isinstance(df.schema[c].dataType, LongType):
            # exact INTEGER floor-division ns -> us. The old
            # floor(ns / 1000.0) went through a double whose ulp at
            # ~1.7e18 is ~256 ns — values that close to a boundary
            # could round up and land a full second off downstream
            # (unix_timestamp) while an exact engine (DuckDB) floors
            # truly: a silent one-off hash divergence. `div` truncates
            # toward zero, so correct the negative-remainder case to
            # keep true floor semantics for pre-epoch timestamps.
            df = df.withColumn(
                c,
                F.timestamp_micros(
                    F.expr(
                        f"`{c}` div 1000"
                        f" - CAST(`{c}` % 1000 < 0 AS BIGINT)"
                    ).cast("long")
                ),
            )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table, normalizing schema quirks (events.ts nanos)."""
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_ns_timestamps(df)
    return df


def spread_fact(
    spark: SparkSession, df: DataFrame, key: str, parts: int | None = None
) -> DataFrame:
    """Conditional post-scan spread for aggregate-heavy consumers of a
    narrow scan (guide §2.5 "one unsplittable input: repartition
    immediately after the read").

    The local test tables are single-row-group parquet files, so every
    scan is ONE task and the partial aggregation fused into it runs
    single-threaded; a hash repartition on the table's natural key
    parallelizes it. CONDITIONAL: fires only when the scan has fewer
    partitions than the core-derived target (max(8, cores/2) — measured
    r15 interleaved at sf0.1: 16 beats 32/64/128 on a 32-core box, the
    exchange's per-partition overhead eats the extra width), so a scan
    that already splits wide — any real table at scale — keeps its
    layout and pays nothing. Filters and column pruning push through
    RepartitionByExpression, so PushedFilters/ReadSchema at the scan
    are unchanged. OPT-IN per entry: only aggregate-dominated entries
    win (q03 0.85x / q26 0.66x / stats_moments 0.62x measured); scan-
    or output-dominated entries LOSE the exchange (q01 2.2x, q04 4.5x,
    q12 2.5x, q38 2.0x, q58 1.8x, udf_scalar_pandas 2.8x) and stay
    unspread. ``parts`` overrides the target: the ``documents`` spreads
    in ``dedup`` and ``multimodal_codec`` size their own."""
    n = parts or max(8, spark.sparkContext.defaultParallelism // 2)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, key)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table in the scale-factor directory as a DataFrame."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load and register each table as a temp view for ``spark.sql`` use."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
