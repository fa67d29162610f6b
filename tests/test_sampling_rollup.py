"""Deterministic splitting/sampling ops and the continuous-aggregate
cascade: layout-independence, reproducibility, merge-equals-rescan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark.functions.sampling import split_column
from emulating_hadoop_with_mpi_spark.operators.events import (
    coarsen_buckets,
    time_bucket_agg,
)
from emulating_hadoop_with_mpi_spark.sources.tables import load_table


def _hash_split(df, splits, salt=""):
    return df.withColumn("split", split_column("doc_id", splits, salt=salt))


def test_hash_split_partitions_and_determinism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    tagged = _hash_split(docs, splits)
    n = docs.count()
    by = {r["split"]: r["n"] for r in tagged.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # exhaustive and disjoint: every row gets exactly one label
    assert sum(by.values()) == n
    # fractions within a loose binomial tolerance at n=500
    assert by["train"] / n == pytest.approx(0.8, abs=0.08)
    assert by.get("val", 0) / n == pytest.approx(0.1, abs=0.06)
    # layout-independent: a different partitioning yields the identical assignment
    a = {(r.doc_id, r.split) for r in tagged.select("doc_id", "split").collect()}
    b = {
        (r.doc_id, r.split)
        for r in _hash_split(docs.repartition(13, "lang"), splits)
        .select("doc_id", "split")
        .collect()
    }
    assert a == b
    # a different salt draws a genuinely different split
    c = {
        (r.doc_id, r.split)
        for r in _hash_split(docs, splits, salt="fold2")
        .select("doc_id", "split")
        .collect()
    }
    assert a != c


def test_hash_split_rejects_bad_fractions():
    with pytest.raises(ValueError):
        split_column("doc_id", {"train": 0.5, "test": 0.4})


def _rows(df):
    return {
        (r.bucket_start, r.event_type, r.n_events, r.total_dec) for r in df.collect()
    }


def test_rollup_cascade_merge_equals_rescan(spark, sf_dir):
    """Coarse-from-fine == coarse-from-raw, through two cascade levels
    (1h -> 6h -> 24h) — the invariant that lets a 100 TB pipeline serve
    every resolution from one raw scan."""
    ev = load_table(spark, sf_dir, "events")
    fine = time_bucket_agg(ev, 3600)
    assert _rows(coarsen_buckets(fine, 21600)) == _rows(time_bucket_agg(ev, 21600))
    cascade_day = coarsen_buckets(coarsen_buckets(fine, 21600), 86400)
    assert _rows(cascade_day) == _rows(time_bucket_agg(ev, 86400))


def test_rollup_cascade_rejects_bad_resolution(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError):
        time_bucket_agg(ev, 0)
    with pytest.raises(ValueError):
        coarsen_buckets(time_bucket_agg(ev, 3600), -1)


def test_split_column_empty_splits_raises():
    with pytest.raises(ValueError, match="non-empty"):
        split_column("doc_id", {})


def test_stratified_keep_rate_and_layout_independence(spark, sf_dir):
    """stratified_keep (round 12): ~frac of the named stratum survives,
    every other stratum keeps default mass, and the selection is
    identical under repartitioning (the property sampleBy lacks)."""
    from pyspark.sql import functions as F

    from emulating_hadoop_with_mpi_spark.functions.sampling import stratified_keep
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    tagged = docs.withColumn("keep", stratified_keep("doc_id", "lang", {"en": 0.5}))
    rows = tagged.collect()
    en = [r for r in rows if r.lang == "en"]
    rest = [r for r in rows if r.lang != "en"]
    assert all(r.keep for r in rest), "non-sampled strata must keep everything"
    rate = sum(r.keep for r in en) / max(len(en), 1)
    assert 0.3 <= rate <= 0.7, f"en keep rate {rate} far from 0.5"
    again = {
        r.doc_id: r.keep
        for r in docs.repartition(13, "lang")
        .withColumn("keep", stratified_keep("doc_id", "lang", {"en": 0.5}))
        .collect()
    }
    assert {r.doc_id: r.keep for r in rows} == again


def test_stratified_keep_rejects_bad_fractions(spark):
    import pytest as _pytest

    from emulating_hadoop_with_mpi_spark.functions.sampling import stratified_keep

    with _pytest.raises(ValueError):
        stratified_keep("doc_id", "lang", {"en": 1.5})
    with _pytest.raises(ValueError):
        stratified_keep("doc_id", "lang", {"en": 0.5}, default=-0.1)
