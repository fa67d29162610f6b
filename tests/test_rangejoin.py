"""Bucketized range join == naive theta join, and plans as a hash join
(not the nested-loop the theta join degenerates to)."""

from __future__ import annotations

from pyspark.sql import functions as F

from reference_forms import range_join_naive

from emulating_hadoop_with_mpi_spark.operators.rangejoin import range_join
from emulating_hadoop_with_mpi_spark.sources.tables import load_table


def _fixtures(spark, sf_dir):
    """Points = event epoch-seconds; intervals = deterministic synthetic
    windows tiled across the actual event span, with mixed sizes: empty
    (id%5==0), sub-stride, and multi-stride overlapping ones."""
    points = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("long").alias("p")
    )
    lo, hi = points.agg(F.min("p"), F.max("p")).collect()[0]
    stride = max(1, (hi - lo) // 60)
    intervals = spark.range(60).select(
        F.col("id").alias("iv_id"),
        (F.lit(lo) + F.col("id") * stride).alias("start"),
        (F.lit(lo) + F.col("id") * stride + (F.col("id") % 5) * (stride // 2 + 1)).alias(
            "end"
        ),
    )
    return points, intervals, stride


def test_range_join_equals_naive(spark, sf_dir):
    points, intervals, stride = _fixtures(spark, sf_dir)
    naive = {
        tuple(r)
        for r in range_join_naive(points, intervals, "p", "start", "end").collect()
    }
    assert naive, "fixture should produce matches"
    # sub-stride (every interval straddles buckets), tuned, and
    # one-bucket-swallows-all widths must all agree with the theta join
    for width in (max(1, stride // 7), stride, stride * 1000):
        got = {
            tuple(r)
            for r in range_join(
                points, intervals, "p", "start", "end", bucket_width=width
            ).collect()
        }
        assert got == naive, f"width={width}"


def test_range_join_is_hash_join_not_nested_loop(spark, sf_dir):
    points, intervals, stride = _fixtures(spark, sf_dir)
    naive_plan = (
        range_join_naive(points, intervals, "p", "start", "end")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    bucket_plan = (
        range_join(points, intervals, "p", "start", "end", bucket_width=stride)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the theta join really is the degenerate plan the rewrite exists to avoid
    assert "NestedLoop" in naive_plan or "Cartesian" in naive_plan
    assert "NestedLoop" not in bucket_plan and "Cartesian" not in bucket_plan
    assert "Join" in bucket_plan


def test_range_join_rejects_bad_width(spark, sf_dir):
    import pytest

    points, intervals, _ = _fixtures(spark, sf_dir)
    with pytest.raises(ValueError):
        range_join(points, intervals, "p", "start", "end", bucket_width=0)
