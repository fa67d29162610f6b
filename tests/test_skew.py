"""Skew utilities: salting preserves join semantics on a hot key, and a
plain aggregate needs no salting."""

from __future__ import annotations

from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark.operators.skew import salted_join
from emulating_hadoop_with_mpi_spark.plans.inspect import executed_plan


def _skewed(spark, n=20000):
    # 90% of rows share key 7 — the classic hot key
    return spark.range(n).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        (F.col("id") * 3).alias("payload"),
    )


def test_salted_join_equals_plain_join(spark):
    big = _skewed(spark)
    small = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 11).alias("dim")
    )
    plain = big.join(small, "k").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s"), F.sum("dim").alias("d")
    )
    salted = salted_join(big, small, "k").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s"), F.sum("dim").alias("d")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def _shuffle_records_written(spark, df) -> int:
    """Shuffle records written by the jobs that collecting ``df`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup("test_skew.partials", "hot-key partial aggregate")
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    return sum(
        store.lastStageAttempt(sid).shuffleWriteRecords()
        for jid in tracker.getJobIdsForGroup("test_skew.partials")
        for sid in tracker.getJobInfo(jid).stageIds
    )


def test_plain_groupby_partial_aggregates_hot_key(spark):
    """Why there is no salted aggregate: the plain groupBy plans a partial
    HashAggregate below its Exchange, so a hot key of a decomposable
    aggregate (sum/count/min/max) reaches its final task as at most one
    row per map partition.  Salting the key would add a shuffle and buy
    nothing."""
    big = _skewed(spark)
    aggs = (F.sum("payload"), F.count(F.lit(1)), F.min("payload"), F.max("payload"))
    final, below_exchange = executed_plan(big.groupBy("k").agg(*aggs)).split(
        "Exchange hashpartitioning(k", 1
    )
    assert "partial_" not in final
    for fn in ("partial_sum", "partial_count", "partial_min", "partial_max"):
        assert fn in below_exchange
    hot = big.filter(F.col("k") == 7)
    map_partitions = hot.rdd.getNumPartitions()
    written = _shuffle_records_written(spark, hot.groupBy("k").agg(*aggs))
    assert 1 <= written <= map_partitions < hot.count()


def test_salted_join_left_keeps_unmatched(spark):
    big = _skewed(spark, 5000)
    small = spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("dim"))
    plain = big.join(small, "k", "left").count()
    salted = salted_join(big, small, "k", how="left").count()
    assert plain == salted == 5000


def test_salting_structurally_spreads_hot_key(spark):
    """Structural (not wall-clock) proof that salting fixes the skew: after
    hashing on (k, __salt) the hot key's rows land in ~`salt` partitions of
    ~rows/salt each, while the unsalted hash puts ~90% of all rows in ONE
    partition.  Wall-clock differences are noise on local[4]; partition row
    counts via spark_partition_id are deterministic."""
    n, salt, parts = 40_000, 16, 32
    big = _skewed(spark, n)  # 90% of rows share k=7
    hot_rows = big.filter(F.col("k") == 7).count()

    def max_partition_rows(df, keys):
        sizes = (
            df.repartition(parts, *keys)
            .groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .collect()
        )
        return max(r["count"] for r in sizes)

    unsalted_max = max_partition_rows(big, ["k"])
    salted = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt)).cast("int")
    )
    salted_max = max_partition_rows(salted, ["k", "__salt"])

    # unsalted: the whole hot key in one partition
    assert unsalted_max >= hot_rows
    # salted: no partition holds more than ~2x the ideal rows/salt share of
    # the hot key (xxhash spread is uniform-ish, 2x is generous slack)
    assert salted_max <= 2 * hot_rows / salt + (n - hot_rows)
    assert salted_max < unsalted_max / 4
