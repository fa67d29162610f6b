"""Data-mixture resampling, deterministic global training order, and the
shared distributed prefix-sum they ride (functions/sampling.py — round 13
continuation).  Not in the reference (its datagen `filecreation.c:8-28`
is the nearest analogue); these are LLM-pipeline selection/ordering ops.

Cross-engine value parity is covered by tests/test_oracle_parity.py via
q82 (mix_keep), q86 (shuffle_pos), and q85's 'budget' section; this file
pins the operator-level invariants: integer-exact rate math, proportion
targets, permutation validity, and layout independence.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from reference_forms import mixture_keep, mixture_rates

from emulating_hadoop_with_mpi_spark.functions.sampling import (
    SPLIT_DENOM,
    global_order_index,
    mixture_keep_case,
    mixture_rate_values,
    order_key,
    ranged_running_total,
    split_bucket,
)


def _docs(spark, sf_dir):
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents")


def _tok_mass(spark, sf_dir):
    from emulating_hadoop_with_mpi_spark.functions.text import tokens_col

    return _docs(spark, sf_dir).select(
        "lang", F.size(tokens_col()).cast("long").alias("w")
    )


def test_mixture_rates_match_integer_formula(spark, sf_dir):
    """rate_s = min(10000, (10000 * ((B*w_s) div W)) div T_s) with
    B = min_s (T_s*W) div w_s — recomputed in plain Python over the same
    per-stratum masses."""
    weights = {"en": 2, "es": 1, "de": 1, "fr": 1, "zh": 1}
    df = _tok_mass(spark, sf_dir)
    got = {
        r["lang"]: r["mix_rate_bp"]
        for r in mixture_rates(df, "lang", "w", weights).collect()
    }
    totals = {
        r["lang"]: r["t"]
        for r in df.groupBy("lang").agg(F.sum("w").alias("t")).collect()
    }
    W = sum(weights.values())
    b = min(totals[s] * W // w for s, w in weights.items() if s in totals)
    want = {
        s: min(SPLIT_DENOM, SPLIT_DENOM * (b * weights[s] // W) // totals[s])
        for s in weights
        if s in totals
    }
    assert got == want
    # the binding stratum keeps everything
    assert SPLIT_DENOM in got.values()


def test_mixture_kept_mass_approximates_targets(spark, sf_dir):
    """Kept token mass per stratum lands near its target share of the
    derived budget (md5 buckets are uniform; tolerance covers the
    finite-sample noise at sf0.001+)."""
    weights = {"en": 2, "es": 1, "de": 1, "fr": 1, "zh": 1}
    df = _tok_mass(spark, sf_dir).withColumn(
        "key", F.monotonically_increasing_id()
    )
    rates = mixture_rates(df, "lang", "w", weights)
    kept = (
        df.join(F.broadcast(rates), "lang", "left")
        .withColumn("keep", mixture_keep("key", "mix_rate_bp"))
        .filter("keep")
        .groupBy("lang")
        .agg(F.sum("w").alias("kept"))
        .collect()
    )
    kept_mass = {r["lang"]: r["kept"] for r in kept}
    total_kept = sum(kept_mass.values())
    W = sum(weights.values())
    for lang, w in weights.items():
        share = kept_mass.get(lang, 0) / total_kept
        target = w / W
        assert abs(share - target) < 0.5 * target, (lang, share, target)


def test_mixture_rates_excludes_unweighted_strata(spark):
    df = spark.createDataFrame(
        [("a", 100), ("b", 100), ("c", 100)], "lang string, w long"
    )
    rates = mixture_rates(df, "lang", "w", {"a": 1, "b": 1})
    got = {r["lang"]: r["mix_rate_bp"] for r in rates.collect()}
    assert set(got) == {"a", "b"}  # 'c' gets no row → COALESCE(…, 0) drops it
    assert got == {"a": SPLIT_DENOM, "b": SPLIT_DENOM}
    keep = df.join(F.broadcast(rates), "lang", "left").withColumn(
        "k", mixture_keep("lang", "mix_rate_bp")
    )
    assert keep.filter((F.col("lang") == "c") & F.col("k")).count() == 0


def test_mixture_rates_rejects_bad_weights(spark):
    import pytest

    df = spark.createDataFrame([("a", 1)], "lang string, w long")
    with pytest.raises(ValueError):
        mixture_rates(df, "lang", "w", {})
    with pytest.raises(ValueError):
        mixture_rates(df, "lang", "w", {"a": 0})
    with pytest.raises(ValueError):
        mixture_rates(df, "lang", "w", {"a": 0.5})  # type: ignore[dict-item]


def test_mixture_rate_values_strict_raises_on_absent_strata(spark):
    """A typo'd mixture must fail loudly, never silently drop the corpus
    (code-review r13 finding)."""
    import pytest

    df = spark.createDataFrame([("a", 100), ("b", 50)], "lang string, w long")
    with pytest.raises(ValueError, match="no mass in the data"):
        mixture_rate_values(df, "lang", "w", {"a": 1, "typo": 1})
    # non-strict restores ignore-the-absent
    got = mixture_rate_values(df, "lang", "w", {"a": 1, "typo": 1}, strict=False)
    assert got == {"a": SPLIT_DENOM}


def test_mixture_keep_case_equals_frame_join(spark, sf_dir):
    """The plan-literal CASE application (q82/curate's path) selects the
    identical rows as the frame broadcast-join application."""
    from pyspark.sql import functions as F2

    weights = {"en": 2, "es": 1, "de": 1, "fr": 1, "zh": 1}
    df = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("w")
    )
    rates_frame = mixture_rates(df, "lang", "w", weights)
    via_join = (
        df.join(F2.broadcast(rates_frame), "lang", "left")
        .withColumn("k", mixture_keep("doc_id", "mix_rate_bp", salt="s"))
        .select("doc_id", "k")
    )
    rates = mixture_rate_values(df, "lang", "w", weights)
    via_case = df.select(
        "doc_id", mixture_keep_case("doc_id", "lang", rates, salt="s").alias("k2")
    )
    assert via_join.join(via_case, "doc_id").filter("k != k2").count() == 0


def test_cli_mixture_spec_parsing():
    import argparse

    import pytest

    from emulating_hadoop_with_mpi_spark.cli import _parse_mixture

    assert _parse_mixture("en=2, es=1") == {"en": 2, "es": 1}
    assert _parse_mixture("en = 2,") == {"en": 2}
    for bad in ("en", "en=2.5", "=3", ""):
        with pytest.raises(argparse.ArgumentTypeError):
            _parse_mixture(bad)


def test_global_order_index_is_a_permutation(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    n = docs.count()
    pos = global_order_index(docs, "doc_id")
    got = pos.agg(
        F.countDistinct("shuffle_pos").alias("d"),
        F.min("shuffle_pos").alias("lo"),
        F.max("shuffle_pos").alias("hi"),
    ).collect()[0]
    assert (got["d"], got["lo"], got["hi"]) == (n, 1, n)


def test_global_order_index_layout_independent(spark, sf_dir):
    """Identical permutation regardless of input partitioning — the
    property rand()-based shuffles lack."""
    docs = _docs(spark, sf_dir).select("doc_id")
    a = global_order_index(docs.repartition(1), "doc_id", salt="s")
    b = global_order_index(docs.repartition(16), "doc_id", salt="s")
    assert a.join(b.withColumnRenamed("shuffle_pos", "p2"), "doc_id").filter(
        "shuffle_pos != p2"
    ).count() == 0


def test_global_order_index_matches_single_window(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    dist = global_order_index(docs, "doc_id", salt="x")
    w = Window.orderBy(order_key("doc_id", salt="x"), "doc_id")
    ref = docs.withColumn("ref_pos", F.row_number().over(w).cast("long"))
    assert dist.join(ref, "doc_id").filter("shuffle_pos != ref_pos").count() == 0


def test_order_salt_draws_independent_permutation(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    a = global_order_index(docs, "doc_id", salt="s1")
    b = global_order_index(docs, "doc_id", salt="s2").withColumnRenamed(
        "shuffle_pos", "p2"
    )
    moved = a.join(b, "doc_id").filter("shuffle_pos != p2").count()
    assert moved > docs.count() // 2  # different salts reorder most rows


def test_ranged_running_total_matches_single_window(spark, sf_dir):
    """The two-phase distributed prefix sum equals the sequential window
    formulation on an arbitrary (double-keyed, tied) order."""
    from emulating_hadoop_with_mpi_spark.functions.text import quality_scores

    qs = (
        quality_scores(_docs(spark, sf_dir).select("doc_id", "text"))
        .select("doc_id", "n_tokens", "quality")
        .filter("n_tokens > 0")
    )
    dist = ranged_running_total(
        qs,
        ord_col=-F.col("quality"),
        tie_col="doc_id",
        val_col=F.col("n_tokens"),
        out_col="cum",
        num_ranges=7,  # deliberately odd/small: boundary placement is immaterial
    )
    w = Window.orderBy(F.col("quality").desc(), "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = qs.withColumn("ref_cum", F.sum("n_tokens").over(w).cast("long"))
    assert dist.join(ref.select("doc_id", "ref_cum"), "doc_id").filter(
        "cum != ref_cum"
    ).count() == 0


def test_mix_keep_agrees_with_manual_bucket(spark, sf_dir):
    """q82's registered mix_keep equals the manual bucket-vs-rate check
    row by row (a second, independent composition of the same pieces)."""
    from emulating_hadoop_with_mpi_spark.functions.text import (
        MIX_SALT,
        MIX_WEIGHTS,
        q82_lang_id,
    )

    got = q82_lang_id(spark, sf_dir).select("doc_id", "lang_label", "mix_keep")
    df = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("w")
    )
    rates = mixture_rates(df, "lang", "w", MIX_WEIGHTS)
    want = (
        df.join(F.broadcast(rates), "lang", "left")
        .select(
            "doc_id",
            (
                split_bucket("doc_id", salt=MIX_SALT)
                < F.coalesce(F.col("mix_rate_bp"), F.lit(0))
            ).alias("want_keep"),
        )
    )
    assert got.join(want, "doc_id").filter("mix_keep != want_keep").count() == 0


# --- property tests (the test_properties.py idiom: few examples, no deadline,
# tiny driver-built frames — shapes and adversarial values, not bulk) ---

from hypothesis import example, given, settings
from hypothesis import strategies as st


@settings(max_examples=6, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**31), max_value=2**31),  # order key w/ ties
            st.integers(min_value=0, max_value=1000),  # value
            st.sampled_from([None, 0, 1, 2]),  # group; NULL is one group
        ),
        min_size=1,
        max_size=60,
    ),
    num_ranges=st.integers(min_value=1, max_value=9),
)
# a one-row group (g=0) next to a multi-row one, with and without ranges
@example(rows=[(5, 3, 0), (5, 2, 1), (1, 4, 1), (9, 1, 1)], num_ranges=1)
@example(rows=[(5, 3, 0), (5, 2, 1), (1, 4, 1), (9, 1, 1)], num_ranges=3)
# two NULL-group rows in different ranges: the offset join is null-safe
@example(rows=[(5, 3, None), (5, 2, 1), (1, 4, None), (9, 1, 1)], num_ranges=3)
def test_ranged_running_total_property(spark, rows, num_ranges):
    """Distributed prefix sum == the sequential formulation for ANY order
    keys (duplicates included — the tie-on-a-range-boundary case) and any
    range count, on adversarial tiny frames — over the whole frame, and
    with ``group_cols`` against one single-window sum per group (the
    bounds stay global, so ranges straddle groups; NULL is one group)."""
    from pyspark.sql import Window

    data = [(i, o, v, g) for i, (o, v, g) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, o long, v long, g long")
    for groups in ([], ["g"]):
        dist = ranged_running_total(
            df, ord_col=F.col("o"), tie_col="id", val_col=F.col("v"),
            out_col="cum", num_ranges=num_ranges, group_cols=groups,
        )
        w = Window.partitionBy(*groups).orderBy("o", "id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        ref = df.withColumn("ref", F.sum("v").over(w).cast("long"))
        # Row-preservation first: an empty distributed result would make
        # the join-based mismatch count pass vacuously (ADVICE r13 — it
        # masked the num_ranges=1 empty-frame bug).
        assert dist.count() == df.count()
        assert dist.join(ref.select("id", "ref"), "id").filter("cum != ref").count() == 0


@settings(max_examples=8, deadline=None)
@given(
    masses=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=1, max_value=10**12),
        min_size=1,
        max_size=4,
    ),
    weights=st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=1, max_value=50),
        min_size=1,
        max_size=4,
    ),
)
def test_mixture_rate_invariants(spark, masses, weights):
    """For any masses/weights: rates are in [0, 10000]; expected kept
    masses (T_s·rate_s) do not exceed target shares of the achievable
    budget; the binding stratum's rate is 10000."""
    live = {s: w for s, w in weights.items() if s in masses}
    if not live:
        return
    df = spark.createDataFrame(
        [(s, int(m)) for s, m in masses.items()], "lang string, w long"
    )
    rates = mixture_rate_values(df, "lang", "w", weights, strict=False)
    assert set(rates) == set(live)
    assert all(0 <= r <= SPLIT_DENOM for r in rates.values())
    W = sum(weights.values())
    b = min(masses[s] * W // w for s, w in live.items())
    binding = min(live, key=lambda s: masses[s] * W // live[s])
    # expected kept mass never exceeds the stratum's target share of B
    for s, r in rates.items():
        assert masses[s] * r // SPLIT_DENOM <= b * live[s] // W + masses[s] // SPLIT_DENOM + 1
    if masses[binding] >= SPLIT_DENOM:  # rounding floor only bites tiny strata
        assert rates[binding] >= SPLIT_DENOM - SPLIT_DENOM // min(
            masses[binding], SPLIT_DENOM
        )


# --- round 14: ADVICE r13 fixes pinned ---


def test_ranged_running_total_single_range(spark):
    """num_ranges=1 (the degenerate legal value) preserves every row and
    matches the sequential window — pre-fix it returned an EMPTY frame
    (empty percentile list -> NULL bounds -> NULL __rng -> inner-join
    dropped everything: silent total data loss)."""
    df = spark.createDataFrame(
        [(i, (i * 37) % 11, i % 5) for i in range(40)], "id long, o long, v long"
    )
    dist = ranged_running_total(
        df, ord_col=F.col("o"), tie_col="id", val_col=F.col("v"),
        out_col="cum", num_ranges=1,
    )
    assert dist.count() == 40
    w = Window.orderBy("o", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref = df.withColumn("ref", F.sum("v").over(w).cast("long"))
    assert dist.join(ref.select("id", "ref"), "id").filter("cum != ref").count() == 0


def test_ranged_running_total_rejects_bad_num_ranges(spark):
    import pytest

    df = spark.createDataFrame([(1, 1, 1)], "id long, o long, v long")
    for bad in (0, -3):
        with pytest.raises(ValueError):
            ranged_running_total(
                df, ord_col=F.col("o"), tie_col="id", val_col=F.col("v"),
                out_col="cum", num_ranges=bad,
            )


def test_ranged_cache_is_bounded(spark):
    """Repeated ranged_running_total / global_order_index calls must not
    accumulate persisted frames (VERDICT r13 item 4): distinct staged
    plans evict the oldest entry beyond the registry capacity,
    identical re-invocations reuse the registered frame instead of
    re-persisting, and unpersist_ranged_cache drops everything."""
    from emulating_hadoop_with_mpi_spark.functions.sampling import (
        _RANGED_CACHE,
        unpersist_ranged_cache,
    )

    jsc = spark.sparkContext._jsc
    unpersist_ranged_cache()
    base = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(
        [(i, i % 7, 1) for i in range(30)], "id long, o long, v long"
    )
    for salt in ("a", "b", "c", "d", "e", "f", "a2"):
        global_order_index(df, "id", salt=salt, num_ranges=4).count()
        assert jsc.getPersistentRDDs().size() <= base + _RANGED_CACHE.capacity
    # identical plan -> cache HIT: no new registry entry, warm frame reused
    n_before = len(_RANGED_CACHE)
    global_order_index(df, "id", salt="a2", num_ranges=4).count()
    assert len(_RANGED_CACHE) == n_before
    unpersist_ranged_cache()
    assert jsc.getPersistentRDDs().size() <= base


def test_cli_mixture_rejects_nonpositive_weights():
    """ADVICE r13: '-1' parses as an int, so the old check let it through
    and the pipeline died later with a raw ValueError traceback."""
    import argparse

    import pytest

    from emulating_hadoop_with_mpi_spark.cli import _parse_mixture

    for bad in ("en=0", "en=-1", "en=2,es=-3"):
        with pytest.raises(argparse.ArgumentTypeError):
            _parse_mixture(bad)


def test_mixture_oracle_ignores_zero_mass_strata(spark):
    """DuckDB oracle CTEs == mixture_rate_values(strict=False) when a
    weighted stratum has rows but ZERO total mass — pre-fix the t=0 row
    survived the oracle's join, forcing b=0 and zeroing every rate while
    the Python side kept nonzero rates."""
    import duckdb

    from emulating_hadoop_with_mpi_spark.functions.sampling import (
        mixture_oracle_ctes,
    )

    rows = [("en", 600), ("en", 400), ("es", 500), ("zz", 0), ("zz", 0)]
    weights = {"en": 2, "es": 1, "zz": 1}
    df = spark.createDataFrame(rows, "stratum string, w long")
    want = mixture_rate_values(df, "stratum", "w", weights, strict=False)
    base_sql = "SELECT * FROM (VALUES " + ", ".join(
        f"('{s}', CAST({w} AS BIGINT))" for s, w in rows
    ) + ") AS t(stratum, w)"
    sql = (
        "WITH " + mixture_oracle_ctes(base_sql, weights, prefix="mx")
        + " SELECT stratum, rate_bp FROM mx_rate ORDER BY stratum"
    )
    got = {s: int(r) for s, r in duckdb.sql(sql).fetchall()}
    assert got == want
    assert want and all(v > 0 for v in want.values())
