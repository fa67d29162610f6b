"""Sink round-trips, including the reference's (i,k):v text format."""

from __future__ import annotations

import numpy as np

from emulating_hadoop_with_mpi_spark.mapreduce import matmul_coo
from emulating_hadoop_with_mpi_spark.sources.datagen import generate_matrix_numpy
from emulating_hadoop_with_mpi_spark.sources.matrix import coo_to_numpy, matrix_coo_from_numpy
from emulating_hadoop_with_mpi_spark.sources.sinks import (
    read_kv_text,
    write_kv_text,
    write_table,
)


def test_kv_text_roundtrip_reference_pipeline(spark, tmp_path):
    """The reference's full sink path (program.c:437-477): multiply, write
    (i,k):sum lines, re-read, pivot dense — result equals NumPy."""
    a = generate_matrix_numpy(6, 8, seed=11)
    b = generate_matrix_numpy(8, 5, seed=12)
    c = matmul_coo(matrix_coo_from_numpy(spark, a), matrix_coo_from_numpy(spark, b))
    out = str(tmp_path / "reducer_output")
    write_kv_text(c, out)
    back = read_kv_text(spark, out)
    np.testing.assert_array_equal(coo_to_numpy(back, 6, 5), a @ b)


def test_parquet_partitioned_roundtrip_and_pruning(spark, tables, tmp_path):
    out = str(tmp_path / "li_parquet")
    write_table(tables["lineitem"], out, partition_by=["l_returnflag"])
    back = spark.read.parquet(out)
    assert back.count() == tables["lineitem"].count()
    # partition pruning: a filter on the partition column becomes a
    # PartitionFilter on the scan (directory-level skip, no data read)
    one = back.filter(back.l_returnflag == "A")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "l_returnflag" in plan.split("PartitionFilters")[1].split("]")[0]
    assert one.count() > 0


def test_csv_roundtrip(spark, tables, tmp_path):
    out = str(tmp_path / "nation_csv")
    write_table(tables["nation"], out, fmt="csv")
    back = spark.read.schema(tables["nation"].schema).csv(out)
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(
        r.n_nationkey for r in tables["nation"].collect()
    )


def test_training_shards_one_file_per_shard_roundtrip(spark, sf_dir, tmp_path):
    """write_training_shards: shard dirs are size-bounded groups of packing
    bins with EXACTLY one parquet file each (the small-files guarantee),
    and the round-trip preserves every (doc_id, bin) assignment."""
    import os

    from emulating_hadoop_with_mpi_spark.functions.text import pack_sequences
    from emulating_hadoop_with_mpi_spark.sources.sinks import write_training_shards
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    packed = pack_sequences(load_table(spark, sf_dir, "documents"), budget=128)
    out = str(tmp_path / "shards")
    write_training_shards(packed, out, bins_per_shard=8)

    shard_dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert len(shard_dirs) >= 2, "expected multiple shards at this budget"
    for d in shard_dirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, f"{d}: {len(files)} files (want exactly 1)"

    back = spark.read.parquet(out)
    orig = {(r.doc_id, r.bin_id) for r in packed.collect()}
    got = {(r.doc_id, r.bin_id) for r in back.collect()}
    assert got == orig
    # shard membership is arithmetic on bin_id
    from pyspark.sql import functions as F

    assert back.filter(back.shard != F.expr("bin_id div 8")).count() == 0


def test_write_table_parquet_roundtrip(spark, tmp_path):
    """The format-parameterized sink's always-available path: partitioned
    parquet round-trip (the delta/iceberg branches are probed with
    jar-resolution + offline skip in test_lakehouse_connector.py)."""
    df = spark.range(50).selectExpr("id", "id % 5 AS grp")
    out = str(tmp_path / "t")
    write_table(df, out, fmt="parquet", partition_by=["grp"])
    back = spark.read.parquet(out)
    assert back.count() == 50
    assert {(r.id, r.grp) for r in back.collect()} == {(i, i % 5) for i in range(50)}
