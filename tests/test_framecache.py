"""PlanKeyedFrameCache (functions/framecache.py — round 14, VERDICT r13
item 4 generalized): bounded operator-internal persists with warm reuse.
The ranged/quality-score/curate registries are instances; this file pins the
class contract itself."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark.functions.framecache import (
    PlanKeyedFrameCache,
)


def _frame(spark, salt: str):
    return spark.range(0, 50).select(
        "id", F.md5(F.concat(F.col("id").cast("string"), F.lit(salt))).alias("h")
    )


def test_identical_plan_reuses_registered_frame(spark):
    cache = PlanKeyedFrameCache(capacity=2)
    a = cache.lookup(_frame(spark, "x"))
    b = cache.lookup(_frame(spark, "x"))
    assert b is a  # plan-identical -> the registered twin, not a new entry
    assert len(cache) == 1
    cache.release_all()


def test_capacity_bounds_storage(spark):
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    cache = PlanKeyedFrameCache(capacity=2)
    for salt in "abcde":
        cache.lookup(_frame(spark, salt)).count()
        assert len(cache) <= 2
        assert jsc.getPersistentRDDs().size() <= base + 2
    cache.release_all()
    assert len(cache) == 0
    assert jsc.getPersistentRDDs().size() <= base


def test_hit_revives_externally_cleared_cache(spark):
    """spark.catalog.clearCache() drops the backing data of every entry;
    a registry hit must re-persist, not hand back a dead frame that
    recomputes on every traversal."""
    cache = PlanKeyedFrameCache(capacity=2)
    a = cache.lookup(_frame(spark, "z"))
    a.count()
    assert a.storageLevel.useMemory or a.storageLevel.useDisk
    spark.catalog.clearCache()
    lvl = a.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)  # dead after the clear
    b = cache.lookup(_frame(spark, "z"))
    assert b is a
    lvl = b.storageLevel
    assert lvl.useMemory or lvl.useDisk  # revived by the hit
    cache.release_all()


def test_rejects_nonpositive_capacity(spark):
    with pytest.raises(ValueError):
        PlanKeyedFrameCache(capacity=0)


def test_same_plan_liveness_canary(spark):
    """_same_plan rests on private JVM APIs (_jdf.queryExecution()
    .analyzed().sameResult — framecache.py); its failure mode is a
    SILENT degrade to per-call persists (the except returns False), so a
    Spark version bump that breaks the API must fail HERE loudly, not
    ship an unbounded-storage regression disguised as green (VERDICT r14
    nit 2)."""
    from emulating_hadoop_with_mpi_spark.functions.framecache import _same_plan

    a = _frame(spark, "canary")
    assert _same_plan(a, _frame(spark, "canary"))  # identical plan -> True
    assert not _same_plan(a, _frame(spark, "other"))  # different data -> False


def test_lru_hit_refreshes_recency(spark):
    """A lookup hit must move the entry to the recent end (ADVICE r14):
    with capacity 2 and plans A, B, A, C — the A-hit refreshes A, so C
    evicts B (the coldest), never the just-reused A."""
    cache = PlanKeyedFrameCache(capacity=2)
    a = cache.lookup(_frame(spark, "a"))
    cache.lookup(_frame(spark, "b"))
    assert cache.lookup(_frame(spark, "a")) is a  # hit refreshes recency
    cache.lookup(_frame(spark, "c"))  # evicts b, NOT a
    assert cache.lookup(_frame(spark, "a")) is a  # a survived the eviction
    assert len(cache) == 2
    cache.release_all()


def test_entry_metadata_survives_hits_and_dies_with_eviction(spark):
    """lookup_entry's metadata dict is stable across hits (the
    bounds-folding contract ranged_running_total relies on) and is
    dropped with its frame at eviction."""
    cache = PlanKeyedFrameCache(capacity=1)
    _, meta = cache.lookup_entry(_frame(spark, "m"))
    meta["bounds:64"] = [1, 2, 3]
    _, again = cache.lookup_entry(_frame(spark, "m"))
    assert again is meta and again["bounds:64"] == [1, 2, 3]
    cache.lookup(_frame(spark, "evictor"))  # capacity 1: evicts "m"
    _, fresh = cache.lookup_entry(_frame(spark, "m"))
    assert "bounds:64" not in fresh  # re-registered entry starts clean
    cache.release_all()


def test_truncate_mode_returns_plan_leaf_and_bounds_storage(spark):
    """truncate=True delivers an eagerly localCheckpoint()ed twin: the
    returned frame's analyzed plan is a LogicalRDD LEAF (constant plan
    size for pipeline stages that build on it — the curate-composition
    fix), hits return the SAME twin, and eviction/release frees the
    checkpoint blocks so storage stays bounded."""
    sc_jsc = spark.sparkContext._jsc
    base = sc_jsc.getPersistentRDDs().size()
    cache = PlanKeyedFrameCache(capacity=2, truncate=True)
    a = cache.lookup(_frame(spark, "t1"))
    leaves = a._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1
    assert leaves.apply(0).getClass().getSimpleName() == "LogicalRDD"
    assert sorted(r.id for r in a.collect()) == list(range(50))
    # plan-identical lookup returns the same checkpointed twin
    assert cache.lookup(_frame(spark, "t1")) is a
    # checkpoint blocks survive catalog.clearCache (RDD-level storage)...
    spark.catalog.clearCache()
    assert sorted(r.id for r in a.collect()) == list(range(50))
    # ...and capacity eviction + release free them
    cache.lookup(_frame(spark, "t2"))
    cache.lookup(_frame(spark, "t3"))  # evicts t1
    assert len(cache) == 2
    cache.release_all()
    assert len(cache) == 0
    assert sc_jsc.getPersistentRDDs().size() <= base


def test_ranged_running_total_warm_hit_skips_bounds_aggregate(spark):
    """VERDICT r14 item 5: a plan-identical re-invocation of
    ranged_running_total — directly, or through pack_sequences, which
    runs on it — must reuse the folded bounds: zero new jobs at build
    time (the percentile aggregate ran once, on the cold call)."""
    from emulating_hadoop_with_mpi_spark.functions.sampling import (
        _RANGED_CACHE,
        ranged_running_total,
    )
    from emulating_hadoop_with_mpi_spark.functions.text import pack_sequences

    _RANGED_CACHE.release_all()
    df = _frame(spark, "rrt").select(F.col("id").alias("doc_id"))
    docs = _frame(spark, "pack").select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", "h", "h").alias("text")
    )

    def ranged():
        return ranged_running_total(
            df,
            ord_col=F.col("doc_id") * 7 % 13,
            tie_col="doc_id",
            val_col=F.lit(1),
            out_col="cum",
            num_ranges=4,
        )

    tracker = spark.sparkContext.statusTracker()
    for build in (ranged, lambda: pack_sequences(docs, budget=5)):
        cold = build()
        n0 = max(tracker.getJobIdsForGroup(None) or [-1])
        warm = build()  # plan-identical: bounds from entry metadata, no job
        n1 = max(tracker.getJobIdsForGroup(None) or [-1])
        assert n1 == n0, f"warm build ran {n1 - n0} job(s); expected 0"
        assert sorted(map(tuple, warm.collect())) == sorted(
            map(tuple, cold.collect())
        )
    _RANGED_CACHE.release_all()


def test_revive_failure_reclaims_slot(spark, monkeypatch):
    """The dead-session revive path (framecache.py lookup_entry): when a
    hit's re-persist RAISES (session torn down mid-call), the entry must
    be reclaimed — pop the slot, drop its value/meta — and the caller
    degrades lazily with its own frame + throwaway dict.  ADVICE r15:
    before the fix, the dead entry kept its recency position (outliving
    hot ones under capacity pressure) and metadata written to the
    throwaway dict was silently lost on every subsequent hit.  Pinned by
    simulating the failure: persist raises only during the revive, then
    a later insert of the same plan must land in the freed slot."""
    cache = PlanKeyedFrameCache(capacity=2)
    a = cache.lookup(_frame(spark, "rf"))
    a.count()
    spark.catalog.clearCache()  # entry's backing cache is now dead
    assert len(cache) == 1

    state = {"boom": True}
    # patch the CONCRETE class (pyspark.sql.classic.dataframe.DataFrame
    # in Spark 4 — it overrides persist, so patching the pyspark.sql
    # facade base never intercepts the call)
    cls = type(a)
    orig_persist = cls.persist

    def maybe_boom(self, *args, **kwargs):
        if state["boom"]:
            raise RuntimeError("simulated dead session")
        return orig_persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", maybe_boom)

    probe = _frame(spark, "rf")
    got, meta = cache.lookup_entry(probe)
    assert got is probe  # degraded lazily: caller's own frame back
    assert meta == {}  # throwaway dict, not the dead entry's metadata
    assert len(cache) == 0  # the slot was reclaimed, not left dead

    state["boom"] = False  # session "recovers"
    b = cache.lookup(_frame(spark, "rf"))
    b.count()
    assert len(cache) == 1  # subsequent insert lands in the freed slot
    lvl = b.storageLevel
    assert lvl.useMemory or lvl.useDisk  # and is genuinely persisted
    cache.release_all()
