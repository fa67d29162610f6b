"""DSIR-style importance scoring for training-data selection.

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023,
arXiv:2302.03169): rank raw documents by how much more likely their
hashed-n-gram features are under a TARGET corpus distribution than under
the raw corpus distribution — the standard "make the crawl look like the
curated set" selection pass of a pretraining pipeline.  Public-knowledge
re-derivation in Spark idiom; no reference-repo analogue (the reference
is a matrix-multiply engine — this belongs to the LLM-pipeline operator
family the survey scopes on top of it).

Model: unigram-of-hashed-bigrams.  Per document,

    score(d) = Σ_g  ln( p_target(bucket(g)) / p_raw(bucket(g)) )

summed over the document's bigram OCCURRENCES, with Laplace-smoothed
bucket probabilities  p(b) = (count_b + 1) / (total + K)  over K hash
buckets.  Positive ⇒ the doc looks more like the target than the raw
mix; resampling keeps the top mass (or Gumbel-perturbs — the
deterministic score is the engine op; sampling policy is the caller's).

Engine-portable hashing: buckets come from md5 (first 15 hex chars →
60-bit int, mod K) — the same Spark/DuckDB-identical digest trick as the
SimHash family — so the driver's DuckDB oracle reproduces every bucket
exactly (q82 registers the score as its ``dsir_en`` column).

Scale shape (100 TB):
- ONE pass builds per-doc bucket counts: tokenize → bigram transform
  over the materialized token array (zero-shuffle, the shingles_df
  pattern) → explode → groupBy (doc_id, bucket) with map-side combine —
  one exchange of (doc_id, bucket, count) longs.
- corpus stats reduce THAT frame to ≤ K rows (trivial second exchange);
  the K-row weight table broadcasts back onto it for the per-doc score
  sum — one more (doc_id)-keyed exchange of longs/doubles.
- the per-doc count frame has two consumers (stats and scoring), so by
  default it is recomputed — at corpus scale it is token-stream-sized
  and pinning it in storage memory is the exact mistake the MinHash
  cache post-mortem documents.  ``persist=True`` opts in for small
  corpora / benchmarks.

Float determinism (oracle contract): the weight is ln of a ratio of two
IEEE divisions with pinned parenthesization — both engines produce the
bit-identical ratio, and ln differs by ≤ 1 ulp between libm and the JVM;
per-doc sums of ~10² such terms carry ~1e-13 absolute error against a
0.5e-6 rounding boundary at ROUND(·, 6).  Same discipline as the
round-before-cast convention in registry.py.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# functions.text imports are deferred to call time: text.py invokes
# dsir_oracle_ctes while ITS module body is still executing (q82's
# decorator), so a module-level import here would be a cycle.

DSIR_BUCKETS = 4096


def _bucket_batches_fn(buckets: int):
    """Arrow-batch profile kernel (round 18, guide §4.2 + §2.4):
    staged (doc_id, is_target, lower_text) batches → (doc_id, is_target,
    b, c) rows — the per-doc hashed-bigram bucket counts computed
    ROW-LOCALLY.  A document's grams all live in one row, so the kernel
    counts them in-process and the former (doc_id, b) groupBy exchange
    disappears from the plan.  A gram is two adjacent tokens joined by
    one space; each distinct gram of a batch is hashed once,
    ``md5(gram)[:15 hex] % buckets``."""
    from emulating_hadoop_with_mpi_spark.functions.text import _token_codes

    def gen(batches):
        import hashlib

        import numpy as np

        def h60(s: str) -> int:
            return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            names = batch.schema.names
            tok_off, codes, dic = _token_codes(batch.column(names.index("lower_text")))
            k = max(len(dic), 1)
            rows = np.repeat(np.arange(n, dtype=np.int64), np.diff(tok_off))
            at = np.flatnonzero(np.arange(codes.size) + 1 < tok_off[rows + 1])
            grams, rank = np.unique(codes[at] * k + codes[at + 1], return_inverse=True)
            words = dic.to_pylist()
            gram_b = np.array(
                [h60(f"{words[g // k]} {words[g % k]}") % buckets for g in grams.tolist()],
                dtype=np.int64,
            )
            key, c = np.unique(rows[at] * buckets + gram_b[rank], return_counts=True)
            if key.size == 0:
                continue
            r = key // buckets
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(names.index("doc_id")).take(r),
                    batch.column(names.index("is_target")).take(r),
                    pa.array(key % buckets, type=pa.int64()),
                    pa.array(c, type=pa.int64()),
                ],
                names=["doc_id", "is_target", "b", "c"],
            )

    return gen


def doc_bucket_counts(
    docs: DataFrame, is_target: Column, buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """(doc_id, is_target, b, c): per-document hashed-bigram bucket
    occurrence counts — the feature extraction both the stats pass and
    the scoring pass consume.  Computed by the Arrow kernel
    (_bucket_batches_fn): zero exchanges — the former explode + groupBy
    shuffled the whole gram stream to group by a key (doc_id) every gram
    of which already sat in one row."""
    from emulating_hadoop_with_mpi_spark.functions.text import _stage_text

    return _stage_text(docs, is_target.alias("is_target")).mapInArrow(
        _bucket_batches_fn(buckets),
        "doc_id bigint, is_target boolean, b bigint, c bigint",
    )


def dsir_scores(
    docs: DataFrame,
    is_target: Column,
    buckets: int = DSIR_BUCKETS,
    round_to: int = 6,
    persist: bool = False,
) -> DataFrame:
    """(doc_id, dsir): per-document importance score of ``docs`` against
    the subset selected by ``is_target`` (a boolean Column over the input
    frame, e.g. ``F.col("lang") == "en"``).  Docs with fewer than two
    tokens have no features and are absent — callers coalesce to 0.0
    (q82 does)."""
    pb = doc_bucket_counts(docs, is_target, buckets)
    if persist:
        pb = pb.persist()
    stats = pb.groupBy("b").agg(
        F.sum("c").alias("r_b"),
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(F.lit(0))).alias("t_b"),
    )
    tot = stats.agg(F.sum("r_b").alias("R"), F.sum("t_b").alias("T"))
    # ln( ((t_b+1)/(T+K)) / ((r_b+1)/(R+K)) ) with parenthesization
    # pinned identically in the q82 oracle SQL (float-determinism note
    # in the module docstring)
    p_t = (F.col("t_b") + 1).cast("double") / (F.col("T") + buckets).cast("double")
    p_r = (F.col("r_b") + 1).cast("double") / (F.col("R") + buckets).cast("double")
    weights = stats.crossJoin(F.broadcast(tot)).select(
        "b", F.log(p_t / p_r).alias("w")
    )
    return (
        pb.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("c") * F.col("w")), round_to).alias("dsir"))
    )


def dsir_oracle_ctes(
    target_sql: str,
    buckets: int = DSIR_BUCKETS,
    source_sql: str | None = None,
    prefix: str = "dsir",
    materialize: bool = False,
) -> str:
    """DuckDB CTE block re-deriving dsir_scores for the oracle (appended
    inside a WITH list): produces relation ``{prefix}_sc(doc_id, dsir)``.
    ``target_sql`` is the boolean SQL predicate selecting target docs
    (over the default documents source).  ``source_sql`` overrides the
    whole source relation — it must yield (doc_id, is_target, toks) and
    then ``target_sql`` is ignored (q85's curate section scores the
    SPAN-CUT texts of the survivor set, not raw documents).  ``prefix``
    namespaces the CTEs so two instances can share one WITH list.
    ``materialize`` marks the bucket-count CTE ``AS MATERIALIZED`` —
    needed when the source is an expensive CTE chain, since DuckDB 1.0
    inlines each of the count CTE's two references separately."""
    from emulating_hadoop_with_mpi_spark.functions.text import _SQL_TOKENS

    p = prefix
    mat = "MATERIALIZED " if materialize else ""
    source_sql = source_sql or (
        f"SELECT doc_id, ({target_sql}) AS is_target, {_SQL_TOKENS} AS toks"
        " FROM documents"
    )
    return f"""
    {p}_tok AS ({source_sql}),
    {p}_pb AS {mat}(
        SELECT doc_id, is_target,
               CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % {buckets} AS b,
               COUNT(*) AS c
        FROM (
            SELECT t.doc_id, t.is_target,
                   t.toks[s.i] || ' ' || t.toks[s.i + 1] AS g
            FROM {p}_tok t CROSS JOIN LATERAL (
                SELECT unnest(generate_series(1, len(t.toks) - 1)) AS i
            ) s
        ) GROUP BY doc_id, is_target, b
    ),
    {p}_stats AS (
        SELECT b, CAST(SUM(c) AS BIGINT) AS r_b,
               CAST(SUM(CASE WHEN is_target THEN c ELSE 0 END) AS BIGINT) AS t_b
        FROM {p}_pb GROUP BY b
    ),
    {p}_tot AS (
        SELECT CAST(SUM(r_b) AS BIGINT) AS R, CAST(SUM(t_b) AS BIGINT) AS T
        FROM {p}_stats
    ),
    {p}_w AS (
        SELECT b, LN( (CAST(t_b + 1 AS DOUBLE) / CAST(T + {buckets} AS DOUBLE))
                    / (CAST(r_b + 1 AS DOUBLE) / CAST(R + {buckets} AS DOUBLE)) ) AS w
        FROM {p}_stats, {p}_tot
    ),
    {p}_sc AS (
        SELECT doc_id, ROUND(SUM(c * w), 6) AS dsir
        FROM {p}_pb JOIN {p}_w USING (b) GROUP BY doc_id
    )"""
