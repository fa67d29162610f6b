"""PPJoin prefix-filtered exact dedup: equality with the direct shingle
self-join (q72's semantics) on BOTH corpus regimes, and a structural proof
that the prefix actually prunes on a long-tail corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark.functions.dedup import (
    exact_jaccard_pairs,
    ppjoin_pairs,
    shingles_df,
)
from emulating_hadoop_with_mpi_spark.sources.datagen import zipf_corpus
from emulating_hadoop_with_mpi_spark.sources.tables import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ppjoin_equals_direct_on_driver_corpus(spark, sf_dir):
    """Small-vocab driver corpus — the regime where prefix filtering can't
    prune; results must STILL be identical."""
    docs = load_table(spark, sf_dir, "documents")
    assert _rows(ppjoin_pairs(docs)) == _rows(exact_jaccard_pairs(docs))


def test_ppjoin_equals_direct_on_zipf_corpus(spark):
    """Long-tail Zipfian corpus with planted near-dups — PPJoin's home
    regime; exactness must hold there too."""
    docs = zipf_corpus(spark, n_docs=400, doc_len=40, vocab=20_000, seed=7)
    got = _rows(ppjoin_pairs(docs))
    want = _rows(exact_jaccard_pairs(docs))
    assert got == want
    assert want, "Zipf corpus should contain planted qualifying pairs"


def test_ppjoin_equals_direct_at_high_threshold(spark):
    """J ≥ 0.8 — the classic near-dup threshold and the regime where the
    prefix keeps only ~20% of each doc's shingles (the measured wall-clock
    crossover regime, bench extras zipf200k_*_t08).  Exactness must hold
    with the shorter prefixes too."""
    docs = zipf_corpus(spark, n_docs=400, doc_len=40, vocab=20_000, seed=7)
    got = _rows(ppjoin_pairs(docs, t_num=4, t_den=5))
    want = _rows(exact_jaccard_pairs(docs, t_num=4, t_den=5))
    assert got == want
    assert want, "planted near-dups should qualify at J >= 0.8"
    # higher threshold admits a subset of the t=0.5 pairs
    assert set(got) <= set(_rows(exact_jaccard_pairs(docs)))


def test_zipf_corpus_is_deterministic_and_planted(spark):
    a = zipf_corpus(spark, n_docs=100, doc_len=30, vocab=5_000, seed=3)
    b = zipf_corpus(spark, n_docs=100, doc_len=30, vocab=5_000, seed=3)
    assert _rows(a) == _rows(b)
    # planting: doc_id % (2*near_dup_every) == 1 → doc 1 mutates doc 0,
    # doc 21 mutates doc 20, ...; doc 2 is an independent draw
    rows = {r.doc_id: r.text for r in a.collect()}
    w0, w1 = rows[0].split(" "), rows[1].split(" ")
    shared = sum(1 for x, y in zip(w0, w1) if x == y)
    assert shared >= 0.8 * len(w0), "planted near-dup should share most words"
    w2 = rows[2].split(" ")
    assert sum(1 for x, y in zip(w0, w2) if x == y) < 0.5 * len(w0)


def test_prefix_prunes_on_zipf_corpus(spark):
    """Structural scale claim: on the Zipfian corpus the candidate-pair
    count from prefix joining is a small fraction of the direct shingle
    self-join's pair count (Σ df² over all shingles vs over prefixes)."""
    docs = zipf_corpus(spark, n_docs=400, doc_len=40, vocab=20_000, seed=7)
    ds = shingles_df(docs)
    direct_pairs = (
        ds.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("p"))
        .collect()[0]["p"]
    )
    from pyspark.sql import Window

    df_counts = ds.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        ds.join(df_counts, "shingle")
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
            ),
        )
    )
    prefix = ranked.filter(F.col("rk") <= F.floor(F.col("n") / 2) + 1)
    prefix_pairs = (
        prefix.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("p"))
        .collect()[0]["p"]
    )
    assert prefix_pairs < direct_pairs / 2, (prefix_pairs, direct_pairs)


def test_ppjoin_partitioned_plan_no_broadcast(spark, sf_dir, monkeypatch):
    """The partitioned regime (corpus above plans/inspect's boundary,
    forced here) must contain ZERO BroadcastExchange — broadcasting an
    O(corpus-tokens) frame is the sf10-measured OOM path — and still
    equal the small-regime output."""
    from emulating_hadoop_with_mpi_spark.functions.dedup import ppjoin_pairs
    from emulating_hadoop_with_mpi_spark.plans import inspect
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    with monkeypatch.context() as m:
        m.setattr(inspect, "PARTITIONED_BYTES", 1)
        part = ppjoin_pairs(docs)
        plan_str = part._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan_str
        part_rows = sorted(map(tuple, part.collect()))
    small = ppjoin_pairs(docs)
    assert part_rows == sorted(map(tuple, small.collect()))


def test_ppjoin_auto_dispatches_by_stats(spark, sf_dir, monkeypatch):
    """Small regime under the byte boundary (driver corpus: Catalyst
    keeps its broadcast plan), partitioned above it (monkeypatched
    boundary: no broadcast)."""
    import emulating_hadoop_with_mpi_spark.functions.dedup as dd
    from emulating_hadoop_with_mpi_spark.plans import inspect
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    size = inspect.plan_size_bytes(docs)
    assert size is not None and 0 < size < inspect.PARTITIONED_BYTES
    assert not inspect.partitioned(docs)
    small_plan = dd.ppjoin_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in small_plan

    monkeypatch.setattr(inspect, "PARTITIONED_BYTES", 1)  # force the large regime
    assert inspect.partitioned(docs)
    forced = dd.ppjoin_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in forced


def test_exact_jaccard_selfjoin_dispatches_by_stats(spark, sf_dir, monkeypatch):
    """q72's shingle self-join pins sort-merge above the (divided) corpus
    boundary — no broadcast of the O(corpus-tokens) string frame — with
    output equal to the broadcast regime."""
    import emulating_hadoop_with_mpi_spark.functions.dedup as dd
    from emulating_hadoop_with_mpi_spark.plans import inspect
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    small = dd.exact_jaccard_pairs(docs)
    assert "SortMergeJoin" not in small._jdf.queryExecution().executedPlan().toString()
    small_rows = _rows(small)
    monkeypatch.setattr(inspect, "PARTITIONED_BYTES", 1)
    part = dd.exact_jaccard_pairs(docs)
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert _rows(part) == small_rows


def test_ranked_window_form_equals_join_form(spark, monkeypatch):
    """Round-18 pin: ppjoin_ranked's count-window df (one tokenize pass,
    two exchanges) emits exactly the rows of the groupBy + join reference
    form in tests/reference_forms.py (two tokenize passes, three
    exchanges) — on the Zipf regime
    where shingle df is skewed, in BOTH physical regimes."""
    from reference_forms import _ppjoin_ranked_join

    from emulating_hadoop_with_mpi_spark.functions.dedup import ppjoin_ranked
    from emulating_hadoop_with_mpi_spark.plans import inspect

    docs = zipf_corpus(spark, n_docs=400, doc_len=40, vocab=20_000, seed=7)
    cols = ["doc_id", "sh", "df", "n", "rk"]
    got = sorted(tuple(r) for r in ppjoin_ranked(docs).select(*cols).collect())
    assert got, "vacuous: empty ranked frame"
    for boundary in (inspect.PARTITIONED_BYTES, 1):  # small, then partitioned
        monkeypatch.setattr(inspect, "PARTITIONED_BYTES", boundary)
        exp = sorted(
            tuple(r) for r in _ppjoin_ranked_join(docs).select(*cols).collect()
        )
        assert got == exp, boundary
