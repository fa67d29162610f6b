"""Loaders for the driver's star-schema parquet tables.

Analogue of the reference's input stage (``program.c:45-72`` reads the two
input relations; ``program.c:34-43`` derives their schema externally).  Here
the schema travels with the data (parquet), and Spark's FileScan provides the
split planning the reference hand-rolled in ``sendInputToMappers``
(``program.c:143-181``).

Scale notes (100 TB design intent):
- Everything goes through ``spark.read.parquet`` → columnar scan, predicate
  pushdown and column pruning are available to every downstream operator.
- ``events.ts`` arrives in whatever physical type the writer chose — the
  driver has produced both TIMESTAMP(NANOS) and naive TIMESTAMP(MICROS)
  parquet across rounds.  ``load_table`` normalizes *every* variant to a
  session-tz (UTC) ``timestamp`` right after the scan: a cheap projection,
  no UDF, and downstream operators never see writer variation.  This is the
  schema-on-read duty the reference skipped by hard-coding filename parsing
  (``program.c:34-43``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Defensive for sessions WE didn't build (e.g. the driver's): the
        # nanos-as-long switch is required if the writer chose
        # TIMESTAMP(NANOS) parquet, and UTC keeps F.window/time-bucket
        # alignment identical to the oracle.  Both are runtime-settable.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_ts(df)
    return df


def _normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize ``col`` to a session-tz ``timestamp`` regardless of how the
    parquet writer encoded it.

    Writers vary: TIMESTAMP(NANOS) scans as ``bigint`` under the
    nanos-as-long conf, naive TIMESTAMP(MICROS) scans as ``timestamp_ntz``
    (Spark 4), and tz-adjusted MICROS/MILLIS scan as ``timestamp`` already.
    All downstream epoch math (``F.unix_micros``, window buckets, as-of /
    range joins) requires plain ``timestamp``.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        # nanos-as-long → µs timestamp.  INTEGER division (`div`), not
        # floor(double/1000): epoch-ns values (~1.7e18) exceed double's
        # 53-bit mantissa, so fp division is off by ±1µs on some rows.
        # Truncating integer division matches DuckDB's ns→µs cast.
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        # Naive micros: under the UTC session tz this cast maps wall-clock
        # to the identical instant DuckDB's CAST(ts AS TIMESTAMP) computes.
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def spread_small_scan(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition ``df`` up to the session's core count IFF its scan is
    under-parallel — the guard that makes CPU-heavy per-row work (token
    md5, MinHash perms) use every core when the input is a small or
    single-row-group parquet file that byte-range splitting cannot divide.

    Scale-safe by construction: at cluster scale a 100 TB scan already
    carries ~400k splits, ``cur >= min_parts`` holds, and this is the
    identity — no exchange is added.  Locally the added Exchange moves
    only the small input itself (KBs-MBs), and buys 32× parallelism on
    the expensive downstream projection."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    cur = df.rdd.getNumPartitions()
    if cur >= target:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so ``spark.sql`` can be used."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
