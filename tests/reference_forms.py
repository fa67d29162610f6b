"""Bit-exact reference forms of shipped operators.

Each function here is a formulation a shipped operator replaced, or an
independent second implementation of the same contract; the tests
compare the shipped operator against it row for row:

- ``_quality_scores_jvm``      — text.quality_scores
- ``_doc_bucket_counts_jvm``   — dsir.doc_bucket_counts
- ``_doc_bigram_profile_jvm``  — lm.doc_bigram_profile
- ``_corpus_postings_jvm``     — search.corpus_postings
- ``_ppjoin_ranked_join``      — dedup.ppjoin_ranked
- ``simhash_df``               — dedup.simhash64_from_120
- ``asof_join_cogroup``        — advanced.q23_asof_join
- ``range_join_naive``         — rangejoin.range_join
- ``mixture_rates`` + ``mixture_keep`` — sampling.mixture_keep_case

The four text-kernel forms tokenize with ``text.tokens_col`` (Spark
``lower`` + a Java ``\\s+`` split, empties dropped), so they run entirely
in the JVM and fold case with the JVM's own locale rules.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark.functions.dedup import shingles_df
from emulating_hadoop_with_mpi_spark.functions.dsir import DSIR_BUCKETS, doc_bucket_counts
from emulating_hadoop_with_mpi_spark.functions.lm import doc_bigram_profile
from emulating_hadoop_with_mpi_spark.functions.sampling import mixture_rate_values, split_bucket
from emulating_hadoop_with_mpi_spark.functions.search import corpus_postings
from emulating_hadoop_with_mpi_spark.functions.text import (
    ALL_STOPWORDS,
    _quality_ratio_projection,
    quality_scores,
    tokens_col,
)
from emulating_hadoop_with_mpi_spark.plans.inspect import partitioned
from emulating_hadoop_with_mpi_spark.sources.tables import load_table


# Longest run of equal adjacent elements in a SORTED bigint array — i.e.
# the count of the most frequent element — as ONE pure Catalyst aggregate
# lambda, no explode/groupBy/shuffle.  This is what lets q81's repetition
# features stay map-only at 100 TB: the per-doc "most frequent n-gram"
# that Gopher computes with a corpus-wide pass, shuffle-free.  Operates
# on xxhash64 fingerprints, not the strings themselves: long compares in
# the accumulator are ~5× faster end-to-end than string compares
# (measured 2.4 s → 0.54 s for q81's three features at sf0.1), at a
# ~n²/2⁶⁴ per-doc collision risk (~1e-13 corpus-wide) accepted and
# documented — the oracle counts real token strings.
def _max_run(sorted_hashes: Column) -> Column:
    return F.aggregate(
        sorted_hashes,
        F.struct(
            F.lit(None).cast("bigint").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x.eqNullSafe(acc.prev), acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )


def _quality_scores_jvm(docs: DataFrame, keep_text: bool = False) -> DataFrame:
    """The former all-Catalyst formulation of :func:`quality_scores`
    (rounds 9-17), kept as the kernel's reference form."""
    # Generate (explode of a 1-element array) is a CollapseProject
    # barrier: the token array AND its xxhash64 fingerprint array are
    # materialized once per row, so the dozen references below read
    # attributes instead of re-running the split (measured 4× blowup
    # without the barrier).  All mode counting runs over the LONG
    # fingerprints (see _max_run); the strings are kept only for the
    # stopword filter.
    staged0 = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.array(
                F.struct(
                    tokens_col().alias("toks"),
                    F.transform(tokens_col(), lambda t: F.xxhash64(t)).alias("th"),
                )
            )
        ).alias("tk"),
    ).select("doc_id", "text", F.col("tk.toks").alias("toks"), F.col("tk.th").alias("th"))
    # hashed adjacent n-grams: zip_with over shifted slices (lambdas touch
    # only lambda vars — an outer column named in a lambda body would be
    # re-evaluated per element after CollapseProject inlining)
    g2h = F.expr(
        "zip_with(slice(th, 1, greatest(size(th) - 1, 0)),"
        "         slice(th, 2, greatest(size(th) - 1, 0)),"
        "         (a, b) -> xxhash64(a, b))"
    )
    g3h = F.expr(
        "zip_with(zip_with(slice(th, 1, greatest(size(th) - 2, 0)),"
        "                  slice(th, 2, greatest(size(th) - 2, 0)),"
        "                  (a, b) -> xxhash64(a, b)),"
        "         slice(th, 3, greatest(size(th) - 2, 0)),"
        "         (ab, c) -> xxhash64(ab, c))"
    )
    feats = staged0.select(
        "doc_id",
        *(["text"] if keep_text else []),
        F.length("text").cast("bigint").alias("n_chars"),
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("bigint").alias("n_alpha"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("bigint").alias("n_digit"),
        F.size(F.filter("toks", lambda x: x.isin(*ALL_STOPWORDS))).cast("bigint").alias("n_stop"),
        _max_run(F.array_sort("th")).cast("bigint").alias("max_word"),
        _max_run(F.array_sort(g2h)).cast("bigint").alias("top2"),
        F.size(g2h).cast("bigint").alias("n2"),
        F.size(g3h).cast("bigint").alias("n3"),
        F.size(F.array_distinct(g3h)).cast("bigint").alias("d3"),
    )
    return _quality_ratio_projection(feats, keep_text)


def _bucket(gram: Column, buckets: int = DSIR_BUCKETS) -> Column:
    """md5-based hash bucket — identical in Spark and DuckDB (RE2/ANSI
    portable: 15 hex chars = 60 bits, always non-negative, so pmod ==
    %)."""
    return F.pmod(
        F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long"),
        F.lit(buckets),
    )


def _doc_bucket_counts_jvm(
    docs: DataFrame, is_target: Column, buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """The former all-Catalyst formulation of :func:`doc_bucket_counts`
    (rounds 10-17), kept as the kernel's reference form."""
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    return (
        docs.select("doc_id", is_target.alias("is_target"), tokens_col().alias("toks"))
        .filter(F.size(toks) >= 2)
        .select("doc_id", "is_target", F.explode(grams).alias("g"))
        .select("doc_id", "is_target", _bucket(F.col("g"), buckets).alias("b"))
        .groupBy("doc_id", "is_target", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _h60(col):
    """60-bit md5 hash — identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _doc_bigram_profile_jvm(docs: DataFrame) -> DataFrame:
    """The former all-Catalyst formulation of :func:`doc_bigram_profile`
    (rounds 10-17), kept as the kernel's reference form."""
    toks = F.col("toks")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            _h60(F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1))).alias(
                "h12"
            ),
            _h60(F.element_at(toks, i)).alias("h1"),
        ),
    )
    return (
        docs.select("doc_id", tokens_col().alias("toks"))
        .filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.h12").alias("h12"), F.col("p.h1").alias("h1"))
        .groupBy("doc_id", "h12", "h1")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _corpus_postings_jvm(docs: DataFrame) -> DataFrame:
    """The former explode + groupBy formulation of
    :func:`corpus_postings` (rounds 11-17), kept as the kernel's
    reference form."""
    staged = docs.select("doc_id", tokens_col().alias("toks"))
    return (
        staged.select(
            "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )


def _ppjoin_ranked_join(docs: DataFrame, ngram: int = 3) -> DataFrame:
    """The former groupBy + join formulation of :func:`ppjoin_ranked`
    (rounds 15-17), kept as the window form's reference; its df join is
    pinned shuffle_hash in the partitioned regime."""
    _pin = (
        (lambda f: f.hint("shuffle_hash")) if partitioned(docs) else (lambda f: f)
    )
    ds = shingles_df(docs, n=ngram).select("doc_id", F.xxhash64("shingle").alias("sh"))
    df_counts = ds.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return (
        ds.join(_pin(df_counts), "sh")
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("sh"))
            ),
        )
    )


def kernel_pairs() -> dict:
    """name → (public entry, reference form) of the four text kernels,
    each a function of a (doc_id, text, lang) frame; DSIR's target set
    is ``lang = 'en'``."""
    en = F.col("lang") == "en"
    return {
        "quality": (
            lambda d: quality_scores(d.select("doc_id", "text")),
            lambda d: _quality_scores_jvm(d.select("doc_id", "text")),
        ),
        "dsir": (
            lambda d: doc_bucket_counts(d, en),
            lambda d: _doc_bucket_counts_jvm(d, en),
        ),
        "lm": (doc_bigram_profile, _doc_bigram_profile_jvm),
        "postings": (corpus_postings, _corpus_postings_jvm),
    }


def simhash_df(docs: DataFrame) -> DataFrame:
    """(doc_id, sim_lo, sim_hi) — the 64-bit SimHash from its own token
    pass: 32 per-bit sign sums over each md5 half (bits 0-31 of the
    sketch draw from hex chars 1-15, bits 32-63 from chars 16-30).  The
    package projects this sketch from the 120-bit words instead
    (``dedup.simhash64_from_120``); the two are pinned equal."""
    md5 = F.md5(F.col("tok"))
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("tok")).select(
        "doc_id",
        F.conv(F.substring(md5, 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(md5, 16, 15), 16, 10).cast("long").alias("h2"),
    )
    # Per-bit sign sum Σ±1 == 2·Σbit - n_tok, so aggregate the raw bit
    # sums plus one count; the sign test "Σ±1 > 0" becomes "2·Σbit > n_tok".
    bit_sums = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.shiftright(F.col(h), i).bitwiseAND(F.lit(1))).alias(f"{name}{i}")
            for name, h in (("lo", "h1"), ("hi", "h2"))
            for i in range(32)
        ],
    )
    halves = []
    for name in ("lo", "hi"):
        acc = None
        for i in range(32):
            bit = (
                F.when(F.col(f"{name}{i}") * 2 > F.col("n_tok"), F.lit(1).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            term = F.shiftleft(bit, i)
            acc = term if acc is None else acc.bitwiseOR(term)
        halves.append(acc.alias(f"sim_{name}"))
    return bit_sums.select("doc_id", *halves)


def asof_join_cogroup(spark, sf_dir: str) -> DataFrame:
    """q23's as-of join via cogroup + pd.merge_asof: purchases and clicks
    are cogrouped per user, each group pair merged as-of in pandas — an
    independent implementation of q23's union-window form."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.unix_micros("ts").alias("t_us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.unix_micros("ts").alias("t_us")
    )

    def merge(left, right):
        import pandas as pd

        left = left.sort_values(["t_us", "purchase_id"])
        right = right.sort_values(["t_us", "click_id"])
        if right.empty:
            out = left.assign(click_id=pd.array([None] * len(left), dtype="Int64"),
                              click_ts_us=pd.array([None] * len(left), dtype="Int64"))
        else:
            # merge_asof keeps the LAST right row with t_us <= left.t_us;
            # ties on t_us resolve to the later (max click_id) row because
            # right is sorted by (t_us, click_id)
            out = pd.merge_asof(
                left,
                right.rename(columns={"t_us": "click_ts_us"}),
                left_on="t_us",
                right_on="click_ts_us",
                by="user_id",
                direction="backward",
            )
        out = out.rename(columns={"t_us": "purchase_ts_us"})
        out["gap_s"] = (out["purchase_ts_us"] - out["click_ts_us"]) // 1_000_000
        return out[["purchase_id", "user_id", "purchase_ts_us", "click_id", "click_ts_us", "gap_s"]]

    return (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            merge,
            schema=(
                "purchase_id long, user_id long, purchase_ts_us long, "
                "click_id long, click_ts_us long, gap_s long"
            ),
        )
        .orderBy("purchase_id")
    )


def range_join_naive(
    points: DataFrame, intervals: DataFrame, point_col: str, start_col: str, end_col: str
) -> DataFrame:
    """The semantics baseline of ``range_join``: a theta join on half-open
    containment ``start <= p < end``, planned as a nested loop or a
    cartesian product."""
    return points.join(
        intervals,
        (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) < F.col(end_col)),
    )


def mixture_rates(
    df: DataFrame, strata_col: str, weight_col: str, weights: dict[str, int]
) -> DataFrame:
    """(strata_col, mix_rate_bp) rows of ``mixture_rate_values(strict=False)``,
    for the broadcast join-back form of the mixture keep decision."""
    rates = mixture_rate_values(df, strata_col, weight_col, weights, strict=False)
    return df.sparkSession.createDataFrame(
        [(k, int(v)) for k, v in rates.items()],
        f"{strata_col} string, mix_rate_bp long",
    )


def mixture_keep(key_col: str, rate_bp_col: str, salt: str = "") -> Column:
    """The keep decision over :func:`mixture_rates` after the join-back:
    a row survives iff its md5 bucket falls under its stratum's rate;
    strata with no rate row are dropped (COALESCE to 0)."""
    return (split_bucket(key_col, salt=salt) < F.coalesce(F.col(rate_bp_col), F.lit(0))).alias(
        "mix_keep"
    )
