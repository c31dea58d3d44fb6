"""Parquet scan sources (SURVEY.md §2.1 S1).

At 100 TB the facts would live partitioned (by period / ship-date) so
partition pruning kicks in; here the driver testdata is one file per
table, and pushdown/pruning still applies at row-group level
(``spark.sql.parquet.filterPushdown``). Loaders are plain
``spark.read.parquet`` — schema comes from the footer; Catalyst prunes
columns (reference hand-writes its column lists — app.py:447-450 — our
equivalent is free via ColumnPruning).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from epl_cas_etl_2026_spark.schemas import TESTDATA_TABLES

# Tables whose parquet timestamp columns need canonicalizing to a
# session-zoned µs TIMESTAMP before the plans touch them. The physical
# encoding has varied across testdata generations:
#   * TIMESTAMP(NANOS): Spark's reader rejects it by default
#     (PARQUET_TYPE_ILLEGAL) — read as int64 nanos (legacy conf) and
#     truncate to µs, the exact coercion DuckDB applies for ns → its
#     µs TIMESTAMP, so the oracle comparison stays value-identical.
#   * TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
#     TIMESTAMP_NTZ, which time-arithmetic builtins (unix_micros,
#     window(), watermarks) reject — reinterpret the naive value as
#     UTC instant (session tz pinned to UTC, matching DuckDB's naive
#     TIMESTAMP semantics), yielding plain TIMESTAMP.
_CANON_TS_TABLES = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table (S1: full-table scan source).

    Pins the session timezone to UTC on EVERY call, not just when the
    events table's NTZ column needs reinterpreting: a conditional pin
    made timestamp-literal parsing and rendering in unrelated queries
    depend on whether/when events had been loaded in the same session —
    an order-dependent nondeterminism. get_spark sessions already pin
    UTC at construction; this covers the driver's vanilla sessions
    deterministically. UTC matches DuckDB's naive TIMESTAMP semantics
    over the same parquet.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    ts_cols = _CANON_TS_TABLES.get(name)
    if ts_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        for c in ts_cols:
            dt = df.schema[c].dataType
            if isinstance(dt, LongType):
                # integer DIV keeps full int64 precision (a double
                # division would round above 2^53 ns ≈ 104 days)
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} DIV 1000")))
            elif isinstance(dt, TimestampNTZType):
                # NTZ→LTZ is wall-clock identity only under UTC
                df = df.withColumn(c, F.col(c).cast(TimestampType()))
        return df
    return spark.read.parquet(path)


def spread_scan(df: DataFrame, *keys: Column) -> DataFrame:
    """Repartition to ``min(32, defaultParallelism)`` partitions when a
    scan is under-parallel (round-robin, or hash on ``keys`` when
    given); otherwise return ``df`` itself.

    Precondition: the repartition reorders rows, so the caller must be
    insensitive to row order (aggregates, joins, per-row maps), never
    a consumer of the scan's file order.

    Why: the single-row-group local testdata files give ONE split, so
    any per-row-expensive stage pipelined onto the scan (gram hashing,
    shingle builds, md5-per-word, LSH projections) runs serialized on
    one task. At scale the scan has plenty of splits and this is a
    no-op (the gate never fires). Apply ONLY where the scan-stage work
    dominates the cost of exchanging the raw rows — r12 measured it a
    per-query decision (wins: exact-substring grams 2.11→0.42 s, winnow
    fingerprints, DSIR md5 pass, lineitem moments; losses: queries
    whose map-side partial agg already collapses the stream, e.g.
    market-basket, kneser-ney, gopher)."""
    target = min(32, df.sparkSession.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *keys)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL API (S6)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
