"""Sinks — the write half of SURVEY §2.15.

The reference writes results twice: every reducer appends ``"(i,k):sum"``
lines to one shared text file via MPI shared file pointers
(``program.c:437-439``), and the master re-parses that file into a dense
matrix render (``program.c:447-477``).  Spark's equivalents: per-task
part-files with a commit protocol (no shared-pointer contention), and a
pivot for the dense render.

Also provides ``write_table``, the format-parameterized sink (parquet,
csv, a lakehouse format) used by any downstream pipeline stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_kv_text(df: DataFrame, path: str, key_cols: tuple[str, str] = ("i", "k"), value_col: str = "v") -> None:
    """Write ``(i,k):v`` lines — the reference's reducer sink format
    (``program.c:438``), as per-partition part-files instead of one shared
    file pointer."""
    (
        df.select(
            F.concat(
                F.lit("("),
                F.col(key_cols[0]).cast("string"),
                F.lit(","),
                F.col(key_cols[1]).cast("string"),
                F.lit("):"),
                F.col(value_col).cast("string"),
            ).alias("value")
        ).write.mode("overwrite").text(path)
    )


def read_kv_text(spark: SparkSession, path: str) -> DataFrame:
    """Re-parse ``(i,k):v`` lines (the reference's ``readResultsFromFile``
    sscanf loop, ``program.c:455-462``) with one regexp per field —
    JVM-side, distributed."""
    lines = spark.read.text(path)
    pat = r"^\((\d+),(\d+)\):(-?\d+)$"
    return lines.select(
        F.regexp_extract("value", pat, 1).cast("int").alias("i"),
        F.regexp_extract("value", pat, 2).cast("int").alias("k"),
        F.regexp_extract("value", pat, 3).cast("long").alias("v"),
    )


def write_table(
    df: DataFrame, path: str, fmt: str = "parquet", partition_by: list[str] | None = None
) -> None:
    """Format-parameterized sink: the one call site where a lakehouse
    format plugs in.  ``fmt='parquet'`` works everywhere; ``'delta'`` /
    ``'iceberg'`` additionally require their connector jars + catalog/
    extension session confs (absent in this container — the jar-present
    round-trip is tested with an offline auto-skip in
    tests/test_lakehouse_connector.py).  On a cluster, swapping a
    pipeline's sink to a lakehouse table is this one-argument change."""
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_training_shards(
    packed: DataFrame, path: str, bins_per_shard: int = 64
) -> None:
    """Terminal sink of the chunk→pack pipeline: write `pack_sequences`
    output (or anything carrying a ``bin_id``) as size-bounded parquet
    shards, ``shard=<id>`` directories with EXACTLY ONE file per shard.

    The 100 TB concern this addresses is small files: a naive
    ``write.partitionBy("shard")`` emits one file per (task, shard) pair —
    tasks × shards files, which at cluster scale floods the namenode and
    the training loader.  ``repartition(shard)`` first hash-clusters each
    shard into a single task, so each shard directory gets one file, and
    shard sizes are bounded by construction (bins_per_shard × bin budget
    tokens).  Deterministic: shard membership is pure arithmetic on
    bin_id, no sampling."""
    sharded = packed.withColumn(
        "shard", F.expr(f"bin_id div {int(bins_per_shard)}").cast("long")
    )
    (
        sharded.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
