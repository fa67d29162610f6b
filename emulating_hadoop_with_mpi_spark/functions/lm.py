"""Corpus n-gram language-model scoring (CCNet-style perplexity filter).

The other canonical model-based selection signal of a pretraining
pipeline (public knowledge — Wenzek et al. 2020 "CCNet", which ranks
CommonCrawl by KenLM perplexity; Heafield 2011): train an n-gram LM on
the corpus (or a curated reference slice), then score every document by
its cross-entropy under that LM — fluent/typical text scores low,
boilerplate and noise score high.  No reference-repo analogue; part of
the LLM-pipeline operator family SURVEY.md scopes.

Model: add-one-smoothed bigram LM over md5-hashed tokens,

    xent(d) = − Σ_{(w1,w2) ∈ d}  ln( (c(w1,w2) + 1) / (c(w1) + V) )  / n_d

with c(·) corpus occurrence counts, V the distinct-unigram vocabulary
size, n_d the doc's bigram count.  Tokens are hashed to 60-bit ints
(md5 first 15 hex chars — the engine-portable digest the SimHash/DSIR
families use) so every shuffle and join key is a long, never a string;
at 60 bits accidental collisions are ~n²/2⁶¹ — irrelevant to a
selection score and identical in both engines, so the oracle still
matches bit-for-bit.

Scale shape (100 TB):
- ONE token-stream pass builds the per-doc bigram profile
  (doc_id, h12, h1, c) — map-side-combined groupBy, one exchange of
  longs (the dsir.py shape).
- the LM tables reduce THAT frame: bigram counts keyed by h12, unigram
  counts by h1 — both vocabulary-sized (≪ corpus), Zipf-skewed but
  keyed by hash so the heavy head spreads across partitions.
- scoring joins the profile against the two LM tables.  At bench scale
  Catalyst/AQE broadcasts them; at 100 TB vocabulary they become
  shuffle-hash joins on long keys — either way the token stream is
  never re-read, and the per-doc profile is Σ_d |distinct bigrams in d|
  rows, already far smaller than the token stream.
- by default the profile is recomputed by its two consumers rather than
  pinned in storage memory (the MinHash cache post-mortem rule);
  ``persist=True`` opts in for small corpora and benchmarks.

Float determinism (oracle contract): counts and V are exact integers in
both engines; the smoothed probability is ONE pinned IEEE division, ln
differs ≤ 1 ulp between libm and the JVM, and per-doc sums of ~10²
such terms sit ~1e-13 from a 0.5e-6 rounding boundary at ROUND(·, 6) —
the same accepted risk class as functions/dsir.py (docstring there).
Parenthesization is pinned identically in Spark and the oracle SQL:
(c12 + 1) / (c1 + V), ln, Σ c·w, negate, divide by n_d, ROUND 6.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _profile_batches_fn():
    """Arrow-batch profile kernel (round 18, guide §4.2 + §2.4 — the
    dsir._bucket_batches_fn shape): staged (doc_id, lower_text) batches
    → (doc_id, h12, h1, c) rows, the per-doc hashed-bigram counts
    computed ROW-LOCALLY.  A document's bigrams all live in one row, so
    the kernel counts them in-process and the former (doc_id, h12, h1)
    groupBy exchange disappears.  h12 is the 60-bit ``md5(s)[:15 hex]``
    of the gram (two adjacent tokens joined by one space), h1 that of its
    first token; each distinct gram and token of a batch is hashed once.
    Counts are keyed by the exact (h12, h1) PAIR like the former groupBy,
    so even an md5 collision between grams yields the same rows."""
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
            firsts = np.unique(grams // k)
            h_word = np.zeros(k, dtype=np.int64)
            h_word[firsts] = [h60(words[w]) for w in firsts.tolist()]
            hashes = np.empty((grams.size, 2), dtype=np.int64)
            hashes[:, 0] = [h60(f"{words[g // k]} {words[g % k]}") for g in grams.tolist()]
            hashes[:, 1] = h_word[grams // k]
            # dense id of each distinct (h12, h1) pair, then (row, id) counts
            pairs, pair_id = np.unique(hashes, axis=0, return_inverse=True)
            m = max(len(pairs), 1)
            key, c = np.unique(rows[at] * m + pair_id.reshape(-1)[rank], return_counts=True)
            if key.size == 0:
                continue
            hk = pairs[key % m]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(names.index("doc_id")).take(key // m),
                    pa.array(hk[:, 0], type=pa.int64()),
                    pa.array(hk[:, 1], type=pa.int64()),
                    pa.array(c, type=pa.int64()),
                ],
                names=["doc_id", "h12", "h1", "c"],
            )

    return gen


def doc_bigram_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, h12, h1, c): per-document hashed-bigram occurrence
    counts, with the conditioning-unigram hash kept alongside for the
    denominator join.  Computed by the Arrow kernel
    (_profile_batches_fn): zero exchanges — the former explode + groupBy
    shuffled the whole pair stream to group by a key (doc_id) every pair
    of which already sat in one row."""
    from emulating_hadoop_with_mpi_spark.functions.text import _stage_text

    return _stage_text(docs).mapInArrow(
        _profile_batches_fn(),
        "doc_id bigint, h12 bigint, h1 bigint, c bigint",
    )


def bigram_lm_xent(
    docs: DataFrame, round_to: int = 6, persist: bool = False
) -> DataFrame:
    """(doc_id, lm_xent): per-document cross-entropy under the add-one
    bigram LM trained on ``docs`` itself (callers selecting against a
    curated reference slice pass that slice's profile — the registered
    q82 section trains on the full corpus, the CCNet "self-perplexity"
    ranking).  Docs with < 2 tokens have no bigrams and are absent —
    callers coalesce (q82 does)."""
    prof = doc_bigram_profile(docs)
    if persist:
        prof = prof.persist()
    # LM tables: vocabulary-sized reductions of the profile.  h12 → h1
    # is many-to-one, so the unigram table reduces the bigram table, not
    # the profile — one less pass over profile rows.
    # h12 functionally determines h1 (both hash the same leading token),
    # so min() is just the single group value — min (not first) mirrors
    # the oracle's aggregate exactly.
    big = prof.groupBy("h12").agg(
        F.sum("c").alias("c12"), F.min("h1").alias("h1")
    )
    uni = big.groupBy("h1").agg(F.sum("c12").alias("c1"))
    v = uni.agg(F.count(F.lit(1)).alias("V"))
    # pinned probability arithmetic (module docstring): w = ln((c12+1)/(c1+V))
    w = (
        big.join(uni, "h1")
        .crossJoin(F.broadcast(v))
        .select(
            "h12",
            F.log(
                (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("V")).cast("double")
            ).alias("w"),
        )
    )
    return (
        prof.join(w, "h12")
        .groupBy("doc_id")
        .agg(
            F.round(
                -F.sum(F.col("c") * F.col("w")) / F.sum("c"), round_to
            ).alias("lm_xent")
        )
    )


def lm_oracle_ctes(
    source_sql: str | None = None, prefix: str = "lm", materialize: bool = False
) -> str:
    """DuckDB CTE block re-deriving bigram_lm_xent for the driver oracle
    (appended inside a WITH list).  Produces relation
    ``{prefix}_sc(doc_id, lm_xent)``.  ``source_sql`` overrides the
    default documents source — it must yield (doc_id, toks) (q85's
    curate section scores the SPAN-CUT survivor texts); ``prefix``
    namespaces the CTEs so two instances share one WITH list;
    ``materialize`` marks the profile CTE ``AS MATERIALIZED`` (needed
    over expensive CTE-chain sources — DuckDB 1.0 inlines per
    reference).  Arithmetic parenthesization matches the Spark
    expressions term for term."""
    from emulating_hadoop_with_mpi_spark.functions.text import _SQL_TOKENS

    p = prefix
    mat = "MATERIALIZED " if materialize else ""
    source_sql = source_sql or f"SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents"
    return f"""{p}_tok AS ({source_sql}),
    {p}_prof AS {mat}(
        SELECT doc_id,
               CAST('0x' || substring(md5(g12), 1, 15) AS BIGINT) AS h12,
               CAST('0x' || substring(md5(g1), 1, 15) AS BIGINT) AS h1,
               COUNT(*) AS c
        FROM (
            SELECT t.doc_id,
                   t.toks[s.i] || ' ' || t.toks[s.i + 1] AS g12,
                   t.toks[s.i] AS g1
            FROM {p}_tok t CROSS JOIN LATERAL (
                SELECT unnest(generate_series(1, len(t.toks) - 1)) AS i
            ) s
            WHERE len(t.toks) >= 2
        ) GROUP BY doc_id, h12, h1
    ),
    {p}_big AS (
        SELECT h12, CAST(SUM(c) AS BIGINT) AS c12, MIN(h1) AS h1
        FROM {p}_prof GROUP BY h12
    ),
    {p}_uni AS (
        SELECT h1, CAST(SUM(c12) AS BIGINT) AS c1 FROM {p}_big GROUP BY h1
    ),
    {p}_v AS (SELECT CAST(COUNT(*) AS BIGINT) AS V FROM {p}_uni),
    {p}_w AS (
        SELECT h12, LN( CAST(c12 + 1 AS DOUBLE) / CAST(c1 + V AS DOUBLE) ) AS w
        FROM {p}_big JOIN {p}_uni USING (h1), {p}_v
    ),
    {p}_sc AS (
        SELECT doc_id, ROUND( -SUM(c * w) / SUM(c), 6 ) AS lm_xent
        FROM {p}_prof JOIN {p}_w USING (h12) GROUP BY doc_id
    )"""
