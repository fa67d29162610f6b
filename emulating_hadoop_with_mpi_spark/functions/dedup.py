"""Deduplication operators over `documents` — the core of an LLM
training-data pipeline at 100 TB (north-star scope).

Five families, in increasing fuzziness:

- exact        (q70): hash-groupBy on raw text — one shuffle, linear.
- normalized   (q70 'normalized' branch; the former q71, folded in round
  3 for the driver's 50-query cap): exact after
  lower/strip-punct/collapse-ws.
- n-gram Jaccard (q72): word-trigram shingles, self-join on shingle,
  exact integer Jaccard test (3·common ≥ na+nb ⟺ J ≥ 0.5).  Exact but
  quadratic in docs-per-shingle — the correctness baseline.
- MinHash-LSH  (q73): 128 permutations, 32 bands × 4 rows — the scale
  path.  Candidates come from band-bucket equality joins (linear in
  corpus + bucket collisions), then are verified with exact Jaccard.
  P(miss | J=0.8) ≈ (1-0.8⁴)³² ≈ 5e-8.
- SimHash      (q74): sign-of-sum sketches over md5 token hashes at BOTH
  widths, method-tagged ('sim64' = 64-bit/13-bit blocks, 'sim120' =
  120-bit/24-bit blocks — the corpus-scale configuration, ~2^11 less
  collision mass); candidate pairs from block pigeonholing with
  single-bit multiprobe (guaranteed-complete at Hamming ≤ 9), verified
  by exact Hamming distance.  One shared tokenize+md5+sign-sum pass
  serves both widths (the 64-bit sketch is a projection of the 120-bit
  words).

q72, q73 and q74 are all DuckDB-oracle-checked: q72 is pure SQL
semantics; q73 shares q72's exact-pairs oracle (its verify step recovers
the exact answer); q74 uses md5 token hashes — which DuckDB computes
identically — so the oracle re-derives the full sketch + all-pairs
Hamming answer independently (promoted from rows-only, round 7).
tests/test_pipeline_ops.py additionally checks sketch recall properties.

Everything is JVM expressions (split/transform/explode/xxhash64) — no
Python in the hot path, with ONE deliberate exception (round 17): the
128-permutation MinHash signature computation runs as a vectorized
NumPy ``mapInArrow`` stage over the per-doc shingle-hash sets.  The
JVM formulation forced the whole (collect_set + 128 mins) groupBy into
an interpreted ObjectHashAggregate (collect_set is a typed-imperative
aggregate, and 128 output fields exceed the whole-stage-codegen field
cap anyway), paying ~129 interpreted buffer updates per shingle row.
Splitting it — JVM groupBy does only collect_set, then one Arrow batch
pass computes all 128 mins with ``np.minimum.reduceat`` over the flat
values buffer — produces bit-identical signatures (same xxhash64 input,
same (a·x+b) mod p in int64) and measured 1.6-2.0× on the stage and on
q73 end-to-end at sf0.1/sf1/sf10 (EQUAL at every SF; OPTIMIZATION_r17.md
§2, A/B script removed after 221c068; guide §4.2's batch-native-library
pattern).
"""

from __future__ import annotations

import warnings

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark.functions.text import tokens_col, _SQL_TOKENS
from emulating_hadoop_with_mpi_spark.operators.graph import connected_components
from emulating_hadoop_with_mpi_spark.registry import query
from emulating_hadoop_with_mpi_spark.sources.tables import load_table, spread_small_scan

NUM_PERM = 128
BANDS = 32
ROWS_PER_BAND = NUM_PERM // BANDS
JACCARD_THRESHOLD_NUM = 3  # 3*common >= na+nb  ⟺  J >= 0.5
SIMHASH_BITS = 64  # held as two 32-bit halves (sim_lo, sim_hi): engine-
# portable bit math — bit 63 of a single int64 sketch flips the sign,
# which engines shift/compare differently.
HAMMING_MAX = 9
# 5 pigeonhole BLOCKS of 13/13/13/13/12 bits over the full 64-bit sketch,
# searched with single-bit MULTIPROBE: a pair at Hamming ≤ 9 puts ≤ ⌊9/5⌋
# = 1 differing bit in SOME block (pigeonhole), and probing every
# one-bit flip of each block value catches exactly that case — candidate
# generation is guaranteed-complete for the ≤9 threshold, so q74's pair
# set is EXACT (and oracle-checkable), not probabilistic.  vs the earlier
# 10×6-7-bit chunk layout (also complete): 13-bit buckets hold 8192
# values instead of 64, so random-sketch collisions — the candidate mass
# — drop ~36×, at the price of 14 probe rows per (doc, block) instead
# of 1.  Measured sf1 (50k docs): 34 s → see NOTES r7.
SIMHASH_BLOCKS = [(0, 13), (13, 13), (26, 13), (39, 13), (52, 12)]  # (offset, width)
# 120-bit scale variant (simhash120_neardup_pairs): same md5 digests carry
# 60 usable bits per half, so the SAME token pass yields a 120-bit sketch
# held as four 30-bit words.  At the SAME absolute Hamming ≤ 9 contract the
# pigeonhole blocks widen from 13 to 24 bits — random block-collision
# probability drops 2^11 (~2000×), which converts q74's top-decade
# collision stream (~7.2B rows at 500k docs, the measured dominant cost)
# into a rounding error while keeping every join equi and the completeness
# guarantee identical (5 blocks, ≤ ⌊9/5⌋ = 1 differing bit in some block).
# The trade is a stricter similarity bar (9/120 = 92.5% bit agreement vs
# 86% at 9/64) and ~2× sketch-aggregation cost — the documented production
# choice once corpus size makes collision mass, not the linear sketch
# pass, the bill.
#
# Word layout (round 10): TWO 60-bit longs (w0 = flat bits 0-59 from md5
# half 1, w1 = flat bits 60-119 from half 2) — the same layout the
# DuckDB oracle's lo120/hi120 use.  vs the earlier four 30-bit words:
# every shuffle row through the pair join carries 2 longs instead of 4
# and Hamming costs 2 xor+popcounts instead of 4 (sf10 A/B: ~30% off
# the whole pass together with the lane-packed aggregation below).
SIMHASH120_WORD_BITS = 60
SIMHASH120_WORDS = ("w0", "w1")
SIMHASH120_BLOCKS = [(0, 24), (24, 24), (48, 24), (72, 24), (96, 24)]
# SWAR lanes for the sign-sum aggregation (round 10): the per-bit sums
# are accumulated three-to-a-long in 20-bit lanes (value per token =
# Σ_k ((h>>bit_k)&1) << 20k), cutting the hash-aggregate from 121 sum
# columns to 41 — measured ~25% off the sf10 sketch stage (299 → 228
# executor-seconds).  Lane sums stay exact (no cross-lane carry) while
# every doc has fewer than 2^20 tokens; a doc at the cap (~6 MB of
# whitespace-split text in ONE row) raises loudly instead of silently
# corrupting sketches — see the guard in simhash120_df.
SIMHASH_LANE_BITS = 20
SIMHASH_LANES = 3
SIMHASH_TOKEN_CAP = 1 << SIMHASH_LANE_BITS


_SQL_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)


def _norm_text() -> Column:
    """Casefold, strip punctuation, collapse whitespace — ONE regex pass:
    any maximal run of non-alphanumerics (spaces included) becomes a
    single space, which is exactly what the oracle's two-pass
    strip-then-collapse form produces.  Normalization is q70's dominant
    CPU term, so halving the regex passes matters at corpus scale."""
    return F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))


# Registered parameters of the span-dedup section of q70 (the round-9
# Lee-et-al substring-dedup family, folded onto the driver-checked
# surface in round 10 per the r9 verdict): 20-token windows, flagged
# when the exact token sequence occurs >= 2 times corpus-wide.
SPAN_N = 20
SPAN_MIN_COUNT = 2


@query(
    "q70_dedup_exact",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
    sp AS (
        -- per-row unnest(generate_series) bound: exact for ANY document
        -- length (the earlier range(1, 65536) cross product silently
        -- missed spans past token 65,535+{SPAN_N - 1} — ADVICE r10)
        SELECT doc_id, pos,
               array_to_string(t[CAST(pos AS INT):CAST(pos + {SPAN_N - 1} AS INT)], ' ') AS span
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {SPAN_N - 1})) AS pos
              FROM toks)
    ),
    dup AS (
        SELECT span, COUNT(*) AS cnt FROM sp
        GROUP BY span HAVING COUNT(*) >= {SPAN_MIN_COUNT}
    ),
    perdoc AS (
        SELECT sp.doc_id, COUNT(*) AS n_dup_spans, MAX(dup.cnt) AS max_span_count
        FROM sp JOIN dup USING (span) GROUP BY sp.doc_id
    ),
    occ AS (
        -- keep-first cut rule: occurrences of each duplicated span
        -- ranked corpus-wide by (doc_id, pos); rank 1 survives, the
        -- rest become cut starts (remove_duplicate_spans semantics)
        SELECT sp.doc_id, sp.pos,
               ROW_NUMBER() OVER (PARTITION BY sp.span
                                  ORDER BY sp.doc_id, sp.pos) AS rk
        FROM sp JOIN dup USING (span)
    ),
    cutpos AS (
        -- union of the cut intervals [pos, pos + {SPAN_N}) per doc
        SELECT DISTINCT doc_id, pos + ofs AS i
        FROM (SELECT doc_id, pos FROM occ WHERE rk > 1), range(0, {SPAN_N}) r(ofs)
    ),
    cutcnt AS (SELECT doc_id, COUNT(*) AS n_cut FROM cutpos GROUP BY doc_id)
    SELECT method, keeper_doc_id, n_copies FROM (
        SELECT 'exact' AS method, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
        FROM documents GROUP BY text
        UNION ALL
        SELECT 'normalized' AS method, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
        FROM (SELECT doc_id, {_SQL_NORM} AS norm FROM documents) GROUP BY norm
        UNION ALL
        SELECT 'span_ndup' AS method, doc_id AS keeper_doc_id, n_dup_spans AS n_copies
        FROM perdoc
        UNION ALL
        SELECT 'span_max' AS method, doc_id AS keeper_doc_id, max_span_count AS n_copies
        FROM perdoc
        UNION ALL
        SELECT 'span_cut' AS method, toks.doc_id AS keeper_doc_id,
               len(t) - COALESCE(n_cut, 0) AS n_copies
        FROM toks LEFT JOIN cutcnt ON toks.doc_id = cutcnt.doc_id
    ) ORDER BY method, keeper_doc_id
    """,
)
def q70_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + normalized + span-level dedup in one result, tagged by `method`.

    - exact: group identical texts, keep the lowest doc_id.
    - normalized: casefold, strip punctuation, collapse whitespace, then
      hash-group — catches trivially-edited copies.
    - span_ndup / span_max: the round-9 substring-dedup family
      (``flag_span_duplicated_docs``, Lee-et-al-style): per document
      containing at least one corpus-duplicated SPAN_N-token window, the
      number of flagged window positions (span_ndup) and the largest
      corpus-wide occurrence count among them (span_max).  One pipeline
      pass serves both sections (stack() splits the per-doc aggregate
      into two tagged rows — no second token-stream scan).
    - span_cut (round 11, VERDICT r10 item 2): the REMEDIATION step —
      ``remove_duplicate_spans``'s keep-first cut applied to every doc,
      reported as one row per document with its POST-CUT token count.
      The oracle re-derives the keep-first cut positions (rank > 1
      occurrences of each duplicated span, union of their [pos, pos+n)
      intervals) with the same generate_series window machinery, so the
      driver hash covers the function that actually rewrites training
      data, not just the detection gate.  All three span sections read
      ONE persisted duplicate_spans frame (the `spans=` injection) —
      the two token-stream exchanges run once for the whole union.

    Both branches GROUP BY a 64-bit xxhash64 digest of the (normalized)
    text, not the text itself: the shuffle carries 8-byte keys instead of
    multi-KB documents — the difference between shuffling ~0.1% of corpus
    bytes and all of them at 100 TB.  (Same answer modulo a 2⁻⁶⁴ digest
    collision; the r7 slope measurement that motivated this showed q70 at
    5.15× for 10× data — the worst of the dedup family — precisely
    because full texts rode the exchange.)

    Subsumes the former q71_dedup_normalized (merged round 3 to fit the
    driver's 50-query cap, NOTES.md) — both branches stay fully
    DuckDB-oracle-checked via the UNION ALL oracle."""
    docs = load_table(spark, sf_dir, "documents")
    exact = (
        docs.groupBy(F.xxhash64("text").alias("__k"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(F.lit("exact").alias("method"), "keeper_doc_id", "n_copies")
    )
    normalized = (
        docs.select("doc_id", F.xxhash64(_norm_text()).alias("__k"))
        .groupBy("__k")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select(F.lit("normalized").alias("method"), "keeper_doc_id", "n_copies")
    )
    # one shared duplicate_spans pass for all three span sections;
    # persist() stays resident for the session (same contract as q74's
    # sketch frame — the union is lazy, so the builder cannot unpersist
    # what the driver hasn't read; the bench clearCache()s per entry)
    spans_fp = duplicate_spans(docs, n=SPAN_N, min_count=SPAN_MIN_COUNT).persist()
    span = (
        flag_span_duplicated_docs(
            docs, n=SPAN_N, min_count=SPAN_MIN_COUNT, spans=spans_fp
        )
        .selectExpr(
            "doc_id AS keeper_doc_id",
            "stack(2, 'span_ndup', n_dup_spans, 'span_max', max_span_count)"
            " AS (method, n_copies)",
        )
        .select("method", "keeper_doc_id", "n_copies")
    )
    span_cut = remove_duplicate_spans(
        docs, n=SPAN_N, min_count=SPAN_MIN_COUNT, spans=spans_fp
    ).select(
        F.lit("span_cut").alias("method"),
        F.col("doc_id").alias("keeper_doc_id"),
        F.size(tokens_col()).cast("bigint").alias("n_copies"),
    )
    # No trailing global sort: the result is a corpus-sized ledger (one
    # row per distinct text), and a total order over it is exactly the
    # 100 TB anti-pattern — a full range-partitioned sort of the whole
    # output for presentation only.  The driver's hash compare is
    # order-insensitive (the oracle keeps its ORDER BY for readability);
    # measured r10: the sort cost ~0.25 s of q70's 1.2 s at sf0.1.
    return exact.unionByName(normalized).unionByName(span).unionByName(span_cut)


def shingles_df(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per document.

    The token array is materialized as a column FIRST: Catalyst does not
    eliminate common subexpressions inside higher-order-function lambdas,
    so referencing ``tokens_col()`` directly inside the transform would
    re-split the text once per element_at — O(tokens²) per document
    (measured: ~3× the whole MinHash pipeline's cost at sf0.1).

    Round 18 (guide §2.4 — remove shuffles outright): the per-doc dedup
    is ``array_distinct`` BEFORE the explode, not a ``.distinct()``
    after it.  A document's n-grams all live in one row, so "distinct
    (doc_id, shingle)" is row-local — the former formulation shuffled
    the ENTIRE shingle-string stream through a
    hashpartitioning(doc_id, shingle) exchange (q73's plan paid two
    full shingle shuffles: the distinct, then the collect_set groupBy;
    the decontamination corpus side paid a shuffle inside an otherwise
    map-only broadcast-join pass).  Identical output multiset per doc;
    every consumer aggregates or joins, so row order is immaterial."""
    toks = F.col("toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + off) for off in range(n)]),
    )
    return (
        docs.select("doc_id", tokens_col().alias("toks"))
        .filter(F.size(toks) >= n)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
    )


_SQL_SHINGLES = f"""
    SELECT DISTINCT doc_id,
           toks[CAST(pos AS INT)] || ' ' || toks[CAST(pos AS INT)+1]
                || ' ' || toks[CAST(pos AS INT)+2] AS shingle
    FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS pos
          FROM (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents))
"""


# Shared by q72 (computes exactly this) and q73 (MinHash-LSH candidates +
# exact verification provably reproduce the same answer — P(LSH misses a
# J>=0.8 pair) ~= 5e-8, and equality on the driver data is additionally
# pinned in tests/test_pipeline_ops.py — so the exact-pairs SQL is a true
# oracle for BOTH paths).
_EXACT_JACCARD_ORACLE = f"""
    WITH ds AS ({_SQL_SHINGLES}),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common, ca.n AS n_a, cb.n AS n_b,
           ROUND(CAST(n_common AS DOUBLE) / (ca.n + cb.n - n_common), 6) AS jaccard
    FROM pairs
    JOIN cnt ca ON doc_a = ca.doc_id
    JOIN cnt cb ON doc_b = cb.doc_id
    WHERE {JACCARD_THRESHOLD_NUM} * n_common >= ca.n + cb.n
    ORDER BY doc_a, doc_b
    """


@query("q72_ngram_jaccard_pairs", oracle=_EXACT_JACCARD_ORACLE)
def q72_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (J ≥ 0.5 tested in integers:
    3·common ≥ |A|+|B|) via a direct shingle self-join + count aggregate —
    the exact baseline the MinHash path (q73) is verified against.

    Scale note: cost is Σ_shingle df², so on a real long-tail corpus at
    100 TB the moves are (a) q73's MinHash-LSH, or (b) a PPJoin-style
    prefix-filtering join (``ppjoin_pairs`` — exact, no false negatives,
    equality pytest-pinned at thresholds 0.5 and 0.8).  Where each wins
    is MEASURED, not assumed (BENCH_DETAIL extras): the naive PPJoin of
    rounds 5-6 lost to this direct count-join everywhere; after round 7's
    constant-factor work (shingles shuffled as xxhash64 longs, verify
    sets bounded by candidate count) PPJoin wins both Zipf configurations
    stably across runs — 20k docs at t = 0.5 (1.65-1.67 vs 1.92-1.95
    min-of-3) and 200k docs at t = 0.8 (6.3-6.9 vs 6.8-7.6) — and is
    within single-JVM noise of the direct join on this small driver
    corpus (both ~1.5-2.0 s, winner flips run to run).  This query keeps
    the direct join as the simplest pure-codegen exact baseline — the one
    whose Σ df² term is the documented 100 TB scale concern."""
    return exact_jaccard_pairs(load_table(spark, sf_dir, "documents"), persist=True)


def _jaccard_ge(t_num: int, t_den: int):
    """Integer predicate for J = c/(a+b-c) ≥ t_num/t_den:
    (t_den + t_num)·c ≥ t_num·(a+b).  (1, 2) reproduces q72's 3c ≥ a+b."""
    return (t_den + t_num) * F.col("n_common") >= t_num * (F.col("n_a") + F.col("n_b"))


def exact_jaccard_pairs(
    docs: DataFrame,
    ngram: int = 3,
    persist: bool = False,
    t_num: int = 1,
    t_den: int = 2,
) -> DataFrame:
    """q72's body over any (doc_id, text) frame: direct shingle self-join
    + count aggregate; exact, Σ df² cost.  Threshold J ≥ t_num/t_den
    (default 0.5, q72's contract) tested in exact integers.

    ``persist=False`` (library default) leaves cache lifetime to the
    caller — repeated calls in one session must not accumulate cached
    partitions nobody unpersists.  The bench and the registered query pass
    ``persist=True`` and clear the cache after each measurement; without
    it the self-join's two identical scan subplans are deduplicated by
    ReusedExchange anyway."""
    ds = shingles_df(docs, n=ngram)
    if persist:
        # Cache hash-partitioned by the join key (round 18): shingles_df
        # is exchange-free now (its former .distinct() shuffle is gone),
        # so a bare cache would inherit the SCAN's partitioning — one
        # partition on a single-file input, serializing every consumer's
        # map stage (measured: q72 2.87 → 3.12 s at sf0.1).  One explicit
        # shingle-keyed exchange at cache build restores consumer
        # parallelism at any input layout AND co-partitions the self-join
        # below: both sides read the same cached hashpartitioning(shingle),
        # so the partitioned regime's sort-merge join needs no exchange at
        # all (guide §2.4 — two operations keyed the same way share one
        # exchange).  Partition count = spark.sql.shuffle.partitions
        # (env-parameterized, AQE-coalesced) — scale-adaptive, not a
        # local[32] constant.
        ds = ds.repartition("shingle").cache()
    cnt = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = ds.alias("a")
    b = ds.alias("b")
    # The self-join side is the shingle STRING frame (~8× corpus bytes);
    # pre-materialization its stats are blind and Catalyst broadcast ~15M
    # string rows at sf3 (erratic GC-churn legs).  Same dispatch as the
    # rest of the family, with the boundary divided by the shingle
    # blow-up factor; sort-merge (not hash-build) for the large-large
    # self-join.  cnt's O(docs) broadcasts below stay — they're two
    # orders smaller.
    size = _plan_size_bytes(docs)
    if size is None or size > PPJOIN_PARTITIONED_BYTES // 8:
        b = b.hint("shuffle_merge")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(_jaccard_ge(t_num, t_den))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# Corpus-size boundary for ppjoin's physical strategy: below it Catalyst
# may broadcast the shingle-derived frames (single-exchange, wins when
# everything fits one heap); above it every join is pinned shuffle_hash —
# broadcasting an O(corpus-tokens) frame to every executor is wrong at
# cluster scale no matter the driver heap.  Stats come from the
# optimizer's own sizeInBytes (file size for parquet scans; no job).
PPJOIN_PARTITIONED_BYTES = 64 * 1024 * 1024


# shared with the text/TF-IDF scale path; see plans/inspect.py
from emulating_hadoop_with_mpi_spark.plans.inspect import plan_size_bytes as _plan_size_bytes


def _ppjoin_partitioned(docs: DataFrame, plan: str) -> bool:
    """Resolve the ppjoin physical regime from the corpus' own Catalyst
    size estimate (the matmul_auto stats-dispatch pattern)."""
    if plan == "auto":
        size = _plan_size_bytes(docs)
        return size is None or size > PPJOIN_PARTITIONED_BYTES
    if plan in ("partitioned", "small"):
        return plan == "partitioned"
    raise ValueError(f"plan must be auto|partitioned|small, got {plan!r}")


def ppjoin_ranked(
    docs: DataFrame, ngram: int = 3, plan: str = "auto"
) -> DataFrame:
    """(doc_id, sh, df, n, rk): ppjoin_pairs' stage-1 frame — every
    document's shingle hashes ranked by ascending global document
    frequency (rarest first; one total order corpus-wide), with the
    per-doc set size ``n``.  Factored out (round 15, the q73
    minhash_combined precedent) so the bench can time the SHIPPED
    stage-1 plan as its own min-of-2 interleaved leg and inject the
    cached frame back via ``ppjoin_pairs(ranked=)``.

    Round 18 (guide §2.3/§2.4, VERDICT r17 item 5): ``df`` is a COUNT
    WINDOW over the sh-keyed exchange instead of a groupBy + join back.
    The former join formulation tokenized the corpus TWICE (the shingle
    frame fed both the aggregate and the join probe — Catalyst does not
    deduplicate common subplans without a persist) and moved the hashed
    shingle stream through three exchanges (partial df agg, join probe,
    doc window); this form tokenizes once and exchanges twice (sh
    window, doc windows).  Bit-identical output, pinned at
    sf0.001/0.01/0.1 AND the Zipf-200k hot-key corpus; interleaved
    min-of-reps: sf10 13.1 → 6.0 s, zipf200k 13.2 → 3.1 s.  Skew note:
    the count window buffers one shingle group per task
    (spillable ExternalAppendOnlyUnsafeRowArray), and the join placed
    the same hot group in the same single task (hash by sh) — the
    hot-key straggler is unchanged in placement, it now spills instead
    of streaming; no broadcast of the O(vocabulary) df table at any
    regime (the join's small-regime plan did broadcast it).  ``plan``
    is accepted for API stability; the rank build itself no longer has
    a regime-dependent join to pin (ppjoin_candidates / the verify
    joins keep their own pins)."""
    from pyspark.sql import Window

    ds = shingles_df(docs, n=ngram).select("doc_id", F.xxhash64("shingle").alias("sh"))
    return (
        ds.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("sh"))
            ),
        )
    )


def _ppjoin_ranked_join(
    docs: DataFrame, ngram: int = 3, plan: str = "auto"
) -> DataFrame:
    """The former groupBy + join formulation of :func:`ppjoin_ranked`
    (rounds 15-17), retained as the window form's equality twin."""
    from pyspark.sql import Window

    _pin = (
        (lambda f: f.hint("shuffle_hash"))
        if _ppjoin_partitioned(docs, plan)
        else (lambda f: f)
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


def ppjoin_candidates(
    ranked: DataFrame,
    t_num: int = 1,
    t_den: int = 2,
    positional: bool = True,
    partitioned: bool = True,
) -> DataFrame:
    """(doc_a, doc_b) distinct candidate pairs from the prefix self-join —
    ppjoin_pairs' stage 2 over a :func:`ppjoin_ranked` frame (the prefix
    and positional filters are documented inline in ppjoin_pairs; this IS
    the shipped plan, factored for stage-leg timing and injection via
    ``ppjoin_pairs(cands=)``).  ``partitioned`` defaults scale-safe
    (shuffle_hash pins); pass False only for the small regime."""
    _pin = (lambda f: f.hint("shuffle_hash")) if partitioned else (lambda f: f)
    # prefix = first n − ⌈t·n⌉ + 1 shingles in global rarity order
    # (t = 1/2 ⟹ ⌊n/2⌋ + 1, the former hardcoded form)
    prefix_len = F.col("n") - F.ceil(F.col("n") * t_num / t_den) + 1
    prefix = ranked.filter(F.col("rk") <= prefix_len).select("doc_id", "sh", "rk", "n")
    a = prefix.alias("a")
    b = prefix.alias("b")
    # PPJoin positional filter (Xiao et al., exactness-preserving): J ≥ t
    # requires overlap ≥ α = ⌈t/(1+t)·(n_a+n_b)⌉, and a match at prefix
    # positions (rk_a, rk_b) bounds the achievable overlap by
    # 1 + min(n_a−rk_a, n_b−rk_b).  For a truly qualifying pair the bound
    # holds at its FIRST common prefix shingle (smallest positions give the
    # loosest bound ≥ the true overlap), so keeping pairs where ANY match
    # passes loses nothing — pinned by the direct-join equality tests at
    # t = 0.5 and 0.8.  The ⌈·⌉ never materializes: for integer ubound,
    # ubound ≥ ⌈p/q⌉ ⟺ ubound·q ≥ p with p = t_num·(n_a+n_b),
    # q = t_num+t_den — exact integer arithmetic, no division.
    # The rk = 1 instance of this bound IS the classic length filter
    # (min(n_a, n_b) ≥ α ⟺ t·n_a ≤ n_b ≤ n_a/t), so that comes free.
    ubound = 1 + F.least(
        F.col("a.n") - F.col("a.rk"), F.col("b.n") - F.col("b.rk")
    )
    cond = (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    if positional:
        cond = cond & (
            ubound * (t_num + t_den) >= (F.col("a.n") + F.col("b.n")) * t_num
        )
    return (
        a.join(_pin(b), cond)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ppjoin_pairs(
    docs: DataFrame,
    ngram: int = 3,
    persist: bool = False,
    t_num: int = 1,
    t_den: int = 2,
    positional: bool = True,
    plan: str = "auto",
    ranked: DataFrame | None = None,
    cands: DataFrame | None = None,
) -> DataFrame:
    """PPJoin-style prefix-filtered EXACT Jaccard pairs (J ≥ t_num/t_den,
    default 0.5) — the scale-safe exact sibling of q72's direct shingle
    self-join.

    Prefix filtering (Chaudhuri et al. SSJoin, Xiao et al. PPJoin, both
    published): order every document's shingles by ascending global
    document frequency (rarest first, shingle text as tie-break — one
    total order for the whole corpus).  J(A,B) ≥ t implies
    |A∩B| ≥ ⌈t·|A|⌉, so if B shares no element of A's first
    |A| − ⌈t·|A|⌉ + 1 shingles, the pair can't qualify — candidates need
    a match between PREFIXES, never full sets.  The pruning power is
    1 − t of each doc: at t = 0.5 prefixes keep half the shingles, at
    t = 0.8 (the classic near-dup setting) ~20%.  With the
    constant-factor choices below, the measured wall-clock beats the
    direct join on both Zipf configurations, stably across runs —
    20k docs at t = 0.5 and 200k docs at t = 0.8 — and sits within
    single-JVM noise of it on the small driver corpus (BENCH_DETAIL
    zipf*/docs_ppjoin extras; the unoptimized rounds-5/6 version lost
    everywhere).  Verification computes true intersection sizes on
    candidates only — the result EXACTLY equals the direct join's at the
    same threshold (pinned in tests/test_ppjoin.py at both 0.5 and 0.8).

    Plan shape at 100 TB: two hash aggregations (df computation, per-doc
    rank), one equi-join on prefix shingles, one verify join — all
    key-partitioned, no all-pairs product anywhere.  Physical strategy
    dispatches on the corpus' own Catalyst size estimate (``plan="auto"``,
    same stats-dispatch pattern as matmul_auto): small corpora keep the
    single-exchange broadcast plan Catalyst picks, large ones pin every
    shingle join to shuffle_hash so no O(corpus-tokens) frame is ever
    broadcast (``plan="partitioned"``/``"small"`` force either regime).  Constant-factor
    choices that matter at that scale (measured locally, round 7):
    shingles are carried as xxhash64 LONGS through every shuffle/sort
    (half the bytes of the 3-word strings; same pair counts modulo a
    2⁻⁶⁴ collision — MinHash makes the identical trade), and the verify
    sets are built only for docs that actually appear in a candidate pair
    (semi-join before collect_set), so verify cost tracks candidate
    count, not corpus size.

    ``ranked=`` / ``cands=`` (round 15) inject pre-built — typically
    cached — stage frames so the bench's interleaved stage legs time
    exactly the shipped plan (the q73 combined=/cands= idiom); without
    them the stages are built here via :func:`ppjoin_ranked` /
    :func:`ppjoin_candidates`."""
    partitioned = _ppjoin_partitioned(docs, plan)

    # In the partitioned regime every shingle-keyed join is pinned
    # shuffle_hash: df_counts and the prefix frame are AGGREGATE/FILTER
    # outputs, so Catalyst's size estimates for them are stats-blind and
    # at sf10 it chose to BROADCAST millions of distinct shingles and a
    # ~25M-row prefix side (measured: driver OOM under memory pressure —
    # the same stats-blind-spot class as q74's probe-side broadcast).
    # df_counts is already hash-partitioned by sh from its own groupBy, so
    # the hint adds no exchange on that side.  In the small regime the
    # hints are omitted and the single-exchange broadcast plan wins
    # (measured ~2.5× at sf0.1); the auto boundary is the corpus' own
    # scan-size estimate.
    if ranked is None:
        ranked = ppjoin_ranked(docs, ngram=ngram, plan=plan)
        # ranked feeds three consumers (prefix a/b + the verify sets);
        # caching is opt-in so library callers own the lifetime (bench
        # clears the cache between measurements; see exact_jaccard_pairs).
        if persist:
            ranked = ranked.cache()
    if cands is None:
        cands = ppjoin_candidates(
            ranked, t_num=t_num, t_den=t_den,
            positional=positional, partitioned=partitioned,
        )
    # verify sets ONLY for docs in some candidate pair — candidate count,
    # not corpus size, bounds the collect_set work
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets_df = (
        ranked.join(cand_docs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("sh").alias("shset"), F.first("n").alias("n"))
    )
    sa = sets_df.select(
        F.col("doc_id").alias("doc_a"), F.col("shset").alias("set_a"), F.col("n").alias("n_a")
    )
    sb = sets_df.select(
        F.col("doc_id").alias("doc_b"), F.col("shset").alias("set_b"), F.col("n").alias("n_b")
    )
    common = F.size(F.array_intersect("set_a", "set_b"))
    # Verify joins are pinned to ShuffledHashJoin, building on the ids-only
    # candidate side: the sets frames carry multi-hundred-element shingle
    # arrays whose DESERIALIZED size is far above what their compressed
    # shuffle stats suggest, and letting AQE broadcast one of them killed
    # the sf10 leg with a driver OOM during the broadcast build (round 8 —
    # the same stats-blind-spot failure as q74's probe-side broadcast).
    # Build sides stay bounded by candidate count, never corpus size.
    return (
        cands.hint("shuffle_hash")
        .join(sa, "doc_a")
        .hint("shuffle_hash")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            common.alias("n_common"),
            "n_a",
            "n_b",
            F.round(
                common.cast("double") / (F.col("n_a") + F.col("n_b") - common), 6
            ).alias("jaccard"),
        )
        .filter(_jaccard_ge(t_num, t_den))
        .orderBy("doc_a", "doc_b")
    )


MERSENNE_31 = (1 << 31) - 1


def _perm_constants(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal family
    x → (a·x + b) mod (2³¹−1), a ∈ [1, p), b ∈ [0, p)."""
    consts = []
    state = 0x9E3779B9
    for _ in range(num_perm):
        state = (state * 1103515245 + 12345) % (1 << 31)
        a = (state % (MERSENNE_31 - 1)) + 1
        state = (state * 1103515245 + 12345) % (1 << 31)
        consts.append((a, state % MERSENNE_31))
    return consts


def _sig_batches_fn(num_perm: int):
    """Arrow-batch MinHash kernel: (doc_id, shset) batches →
    (doc_id, shset, h0..h{num_perm-1}).  ``shset`` holds full 64-bit
    shingle hashes; the permutation input is their top 32 bits, and the
    set is passed through (minhash_combined's verify frame).

    Values are bit-identical to the JVM formulation: same int64
    (a·x + b) mod MERSENNE_31 (a·x + b < 2⁶³ — no overflow, module
    header), min over the same per-doc set."""
    consts = np.asarray(_perm_constants(num_perm), dtype=np.int64)
    a_c, b_c = consts[:, 0], consts[:, 1]

    def gen(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0)
            la = batch.column(1)
            offs = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            # Loud guard (ADVICE r17): reduceat on an EMPTY segment would
            # silently return the next segment's first element (or raise
            # IndexError on a trailing one) — wrong values, not an error.
            # Unreachable from the public entry points (collect_set over
            # non-null hashes is never empty), but this is a general
            # kernel and a future caller must fail loudly instead.
            if (np.diff(offs) <= 0).any():
                raise ValueError("minhash kernel: empty shingle set segment")
            # sliced list arrays: offsets need not start at 0, and the
            # values buffer can extend past the last offset — clamp so
            # reduceat's final segment ends at the last row's end.
            vals = la.values.to_numpy(zero_copy_only=False)[: offs[-1]]
            starts = offs[:-1]
            h = (vals.astype(np.uint64) >> np.uint64(32)).astype(np.int64)
            cols = [ids, la]
            names = ["doc_id", "shset"]
            for i in range(num_perm):
                y = (h * a_c[i] + b_c[i]) % MERSENNE_31
                cols.append(pa.array(np.minimum.reduceat(y, starts), type=pa.int64()))
                names.append(f"h{i}")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return gen


def minhash_signatures(ds: DataFrame, num_perm: int = NUM_PERM) -> DataFrame:
    """(doc_id, h0..h{num_perm-1}) — MinHash signature per document.

    The shingle string is hashed ONCE (xxhash64, top 32 bits); each
    permutation is the classic universal hash (a·x + b) mod (2³¹−1) of
    that value, min'd per doc as ``num_perm`` DECLARATIVE min aggregates
    — fixed ``num_perm``-long partial state per (doc, map partition)
    regardless of document length.

    Round 18 (VERDICT r17 item 2 closed with data): r17 briefly switched
    this standalone entry to the collect_set + Arrow-kernel form shared
    with minhash_combined; a measured A/B (OPTIMIZATION_r18.md §3)
    showed the set shuffle is a REGRESSION for the standalone builder —
    7.9 vs 35.8 s at sf10 (500 k docs; the per-doc set crosses the shuffle AND
    the Python boundary for nothing a signature-only caller uses) and
    1.00 vs 1.62 s on a 4000-distinct-shingle/doc long-doc corpus
    (partial state grows O(distinct shingles/doc) through the shuffle)
    — while winning nothing outside noise on the real corpus at sf1
    (1.64 vs 1.45 s).  The declarative form's fixed state is
    the scale-robust choice for a signature-only caller (the streaming
    incremental dedup); minhash_combined keeps the kernel — its groupBy
    must collect the set anyway for the verify frame, so the kernel mins
    there are strictly cheaper than the former 129-aggregate
    ObjectHashAggregate.  The kernel form of this entry was removed
    after 221c068."""
    consts = _perm_constants(num_perm)
    hashed = ds.select(
        "doc_id", F.shiftrightunsigned(F.xxhash64("shingle"), 32).alias("h")
    )
    return hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MERSENNE_31))
            ).alias(f"h{i}")
            for i, (a, b) in enumerate(consts)
        ]
    )


def lsh_candidates(sigs: DataFrame, bands: int = BANDS, rows: int = ROWS_PER_BAND) -> DataFrame:
    """(doc_a, doc_b) candidate pairs: docs sharing any band bucket.
    Band key = xxhash64 of the band's signature rows; the bucket join is
    an equi-join on (band, key) — the linear-time scale path."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)]).alias("key"),
            )
            for b in range(bands)
        ]
    )
    buckets = sigs.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_combined(docs: DataFrame) -> DataFrame:
    """q73's single corpus exchange: ONE shuffle of the shingle set
    produces both the MinHash signatures (min per permutation) and the
    exact-verify hash sets (collect_set) — the signature pass and the
    verification pass share their groupBy.  Returned CACHED (lazily):
    both the band join and the verify join consume it.

    The shingle frame itself is NOT cached: it has exactly one consumer
    (this groupBy) — caching it would materialize O(corpus tokens) rows
    into storage memory for nothing (measured: the stale cache was the
    main memory-pressure and run-variance source at the sf10 decade).

    Round 17: the groupBy collects ONLY the shingle-hash set (the verify
    frame); the 128 signature mins derive from that set in the vectorized
    Arrow kernel (module header) — h{i} = min over the set of
    (a·(sh>>32) + b) mod p, exactly the values the former in-aggregate
    formulation produced (min over rows == min over the distinct set)."""
    ds = shingles_df(docs)
    hashed = ds.select("doc_id", F.xxhash64("shingle").alias("sh"))
    sets = hashed.groupBy("doc_id").agg(F.collect_set("sh").alias("shset"))
    schema = "doc_id bigint, shset array<bigint>, " + ", ".join(
        f"h{i} bigint" for i in range(NUM_PERM)
    )
    return sets.mapInArrow(_sig_batches_fn(NUM_PERM), schema).cache()


def minhash_verified_pairs(
    docs: DataFrame,
    combined: DataFrame | None = None,
    cands: DataFrame | None = None,
) -> DataFrame:
    """q73's body over any (doc_id, text) frame: MinHash(128) + LSH band
    candidates, exact-Jaccard verification, q72's output contract.
    Shared by q73 (registered) and q71's fuzzy pipeline (candidate
    stage).

    `combined` / `cands` injection (bench stage attribution, the q70
    `spans=` idiom): callers that already materialized the shared
    groupBy frame (`minhash_combined`) and/or the band-join candidates
    (`lsh_candidates`) pass them in so the verify stage can be timed on
    its own; semantics are identical because this function builds the
    same frames from the same helpers when they are None.

    Cache contract (ADVICE r8): in the partitioned regime this plan
    cache()s two candidate-bounded frames that stay resident for the
    session after the result is materialized (they are lazy, so the
    builder cannot unpersist them itself).  Long-running callers issuing
    many independent dedup passes should spark.catalog.clearCache()
    between passes."""
    if combined is None:
        combined = minhash_combined(docs)
    sigs = combined.select("doc_id", *[f"h{i}" for i in range(NUM_PERM)])
    if cands is None:
        cands = lsh_candidates(sigs)
    sets_df = combined.select("doc_id", "shset")
    a = sets_df.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("set_a"))
    b = sets_df.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("set_b"))
    # Same stats-blind hazard as ppjoin's verify: above the size boundary
    # Catalyst broadcasts the per-doc shset-ARRAY frame into both verify
    # joins (O(corpus) deserialized bytes to every executor — measured
    # ~400 MB in-process at sf10, 100 TB-fatal on a cluster).  In the
    # partitioned regime do what ppjoin's verify does: semi-join the sets
    # down to docs that actually appear in a candidate pair FIRST (ids
    # only, candidate-bounded), then pin shuffle_hash building on the
    # candidate side — every shuffled/built frame is bounded by candidate
    # count, never corpus size.  Below the boundary the broadcast plan
    # stays (it wins on single-digit-MB corpora).
    size = _plan_size_bytes(docs)
    if size is None or size > PPJOIN_PARTITIONED_BYTES:
        # candidate-bounded frames are CACHED — LAZILY, on purpose: cands
        # otherwise re-runs the band self-join three times (two semi sides
        # + the outer join) and bounded's semi-join re-scans the corpus
        # cache twice.  Eager alternatives were A/B'd fresh-process at
        # sf10 in BOTH orderings (NOTES r9): lazy cache cold 39-47 s vs
        # localCheckpoint 70-128 s vs cache+count 83-86 s — eager
        # materialization forces the full band-join output to byte-store
        # before AQE can pipeline/prune it downstream, which costs more
        # than the duplicate-stage risk it was meant to avoid.  The r8
        # 72.5-s lazy cold reading was box drift, not a cache-fill race.
        # Cached blocks stay pinned for the session like any cached plan;
        # long-running callers reclaim them with
        # spark.catalog.clearCache() (ADVICE r8 — documented contract).
        cands = cands.cache()
        cand_docs = (
            cands.select(F.col("doc_a").alias("doc_id"))
            .unionAll(cands.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        bounded = sets_df.join(cand_docs, "doc_id", "left_semi").cache()
        a = bounded.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("set_a"))
        b = bounded.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("set_b"))
        joined = cands.hint("shuffle_hash").join(a, "doc_a").hint("shuffle_hash").join(b, "doc_b")
    else:
        joined = cands.join(a, "doc_a").join(b, "doc_b")
    common = F.size(F.array_intersect("set_a", "set_b"))
    n_a, n_b = F.size("set_a"), F.size("set_b")
    return (
        joined.select(
            "doc_a",
            "doc_b",
            common.alias("n_common"),
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            F.round(common.cast("double") / (n_a + n_b - common), 6).alias("jaccard"),
        )
        .filter(JACCARD_THRESHOLD_NUM * F.col("n_common") >= F.col("n_a") + F.col("n_b"))
        .orderBy("doc_a", "doc_b")
    )


@query("q73_minhash_lsh_neardup", oracle=_EXACT_JACCARD_ORACLE)
def q73_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128) + LSH(32 bands × 4 rows) near-dup detection with exact
    Jaccard verification of candidates (J ≥ 0.5).  Same output contract as
    q72 but near-linear: candidates are generated by bucket joins instead
    of the full shingle self-join.  At 100 TB this is the dedup operator:
    O(corpus) signature pass + bucket-collision verification.

    Oracle-checked against the EXACT pairs SQL (shared with q72): the
    verify stage computes true Jaccard on every candidate, so the only way
    to diverge from the exact answer is an LSH recall miss — ~5e-8 at the
    planted J≥0.8, and hash-equality holds on the driver corpus (also
    pinned Spark-side in tests/test_pipeline_ops.py)."""
    return minhash_verified_pairs(load_table(spark, sf_dir, "documents"))


# Relative edit-distance gate for the fuzzy pipeline's verify stage:
# levenshtein(norm_a, norm_b) ≤ (EDIT_NUM/EDIT_DEN)·max(len) tested in
# exact integers — EDIT_DEN·lev ≤ EDIT_NUM·greatest(len_a, len_b, 1).
EDIT_NUM = 1
EDIT_DEN = 40  # 2.5% of the longer doc: tight enough that the gate BITES
# on the driver corpus (drops ~1/5 of the J>=0.5 pairs at sf0.01), so the
# driver hash-check exercises the verify stage, not just the candidates

_FUZZY_PIPELINE_ORACLE = f"""
    WITH RECURSIVE ds AS ({_SQL_SHINGLES}),
    cnt AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
    jp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jv AS (
        SELECT doc_a, doc_b FROM jp
        JOIN cnt ca ON doc_a = ca.doc_id
        JOIN cnt cb ON doc_b = cb.doc_id
        WHERE {JACCARD_THRESHOLD_NUM} * n_common >= ca.n + cb.n
    ),
    nt AS (SELECT doc_id, {_SQL_NORM} AS norm FROM documents),
    verified AS (
        SELECT doc_a, doc_b FROM jv
        JOIN nt na ON doc_a = na.doc_id
        JOIN nt nb ON doc_b = nb.doc_id
        WHERE {EDIT_DEN} * levenshtein(na.norm, nb.norm)
              <= {EDIT_NUM} * GREATEST(length(na.norm), length(nb.norm), 1)
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM verified
        UNION
        SELECT doc_b AS a, doc_a AS b FROM verified
    ),
    reach(node, lab) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    labels AS (
        SELECT node AS doc_id, MIN(lab) AS keeper_doc_id FROM reach GROUP BY node
    )
    SELECT doc_id, keeper_doc_id,
           CAST(COUNT(*) OVER (PARTITION BY keeper_doc_id) AS BIGINT) AS cluster_size
    FROM labels
    ORDER BY doc_id
    """


@query("q71_fuzzy_dedup_pipeline", oracle=_FUZZY_PIPELINE_ORACLE)
def q71_fuzzy_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production fuzzy-dedup pipeline END-TO-END, one driver-checked
    query: candidates → verify → keeper selection.

    1. CANDIDATES: MinHash-LSH band buckets with exact-Jaccard
       verification (q73's scale path — bucketed equi-joins, J ≥ 0.5).
    2. VERIFY: character-level gate on the survivors only (q79's
       primitive): levenshtein over normalized text ≤ {EDIT_NUM}/{EDIT_DEN}
       of the longer doc, tested in exact integers.  Edit distance runs on
       CANDIDATE PAIRS — never all-pairs — so its quadratic DP cost
       tracks near-dup density, not corpus size.
    3. KEEPERS: connected components over the verified pair graph —
       each doc maps to the smallest doc_id in its component (the
       canonical keeper rule) via ``operators/graph.py``'s min-label
       propagation WITH POINTER JUMPING (rounds = O(log diameter), every
       step a keyed equi-join on the pair graph only — O(dup docs), not
       corpus rows, per round; non-convergence raises instead of
       returning wrong clusters).  The oracle reproduces the fixpoint
       with a recursive CTE, so the driver hash-match proves the
       iteration converged to the same components.

    Output: one row per doc in any verified near-dup pair —
    (doc_id, keeper_doc_id, cluster_size)."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    jac = minhash_verified_pairs(docs).select("doc_a", "doc_b")
    norm = docs.select("doc_id", _norm_text().alias("norm"))
    na = norm.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("norm_a"))
    nb = norm.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("norm_b"))
    # BANDED edit-distance gate: pass ⟺ lev ≤ k with
    # k = (EDIT_NUM·max(len_a, len_b, 1)) DIV EDIT_DEN (integer-exact, same
    # predicate as the oracle's EDIT_DEN·lev ≤ EDIT_NUM·gmax since lev is
    # an integer).  Passing k as the levenshtein THRESHOLD switches
    # Spark's DP to the banded O(len·k) form (returns −1 above k) instead
    # of the full O(len²) table — at the 2.5%-of-length contract that's
    # ~40× less DP work per candidate pair, and the verify stage is what
    # dominates the pipeline at the sf10 decade.  The python DSL only
    # takes int thresholds, so the per-row column goes through F.expr.
    banded = F.expr(
        f"levenshtein(norm_a, norm_b, "
        f"({EDIT_NUM} * greatest(length(norm_a), length(norm_b), 1)) DIV {EDIT_DEN})"
    )
    verified = (
        jac.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(banded >= 0)
        .select("doc_a", "doc_b")
    )
    edges = (
        verified.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(verified.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .persist()
    )
    labels = connected_components(edges)
    edges.unpersist()
    w = Window.partitionBy("lab")
    return (
        labels.select(
            F.col("node").alias("doc_id"),
            F.col("lab").alias("keeper_doc_id"),
            F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
        )
        .orderBy("doc_id")
    )


@query(
    "q79_edit_distance",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist,
           ROUND(1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
                       / GREATEST(length(a.text), length(b.text), 1), 6) AS edit_sim
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id % 10 = 0
    ORDER BY doc_a
    """,
)
def q79_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity (Levenshtein, exact integer DP — identical
    across engines) between adjacent documents, with a length-normalized
    similarity score.  The character-level dedup primitive complementing
    the token-level Jaccard family; at scale it's the verify stage after
    candidate generation (never all-pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")).filter(
        F.col("doc_a") % 10 == 0
    )
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    dist = F.levenshtein("ta", "tb")
    return (
        a.join(b, b.doc_b == a.doc_a + 1)
        .select(
            "doc_a",
            "doc_b",
            dist.alias("edit_dist"),
            F.round(
                1.0
                - dist.cast("double")
                / F.greatest(F.length("ta"), F.length("tb"), F.lit(1)),
                6,
            ).alias("edit_sim"),
        )
        .orderBy("doc_a")
    )


def simhash_df(docs: DataFrame) -> DataFrame:
    """(doc_id, sim_lo, sim_hi) — 64-bit SimHash over token hashes, held
    as two 32-bit halves: bit i of the sketch is the sign of
    Σ_token_occurrences (±1 from bit i of the token hash).  Term-frequency
    weighting (every occurrence counts) — on short/small-vocab corpora,
    distinct-token SimHash degenerates (random pairs collide);
    tf-weighting keeps planted near-dups ≤9 bits apart while random pairs
    sit at ~18.

    Token hash = md5 (bits 0-31 of the sketch draw from hex chars 1-15,
    bits 32-63 from chars 16-30).  md5 — not xxhash64 — because both Spark
    and DuckDB compute the identical digest, which is what lets q74's
    whole pair set be driver-oracle-checked; the ±1 signs are the same in
    both engines, so the sketches are too."""
    md5 = F.md5(F.col("tok"))
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("tok")).select(
        "doc_id",
        F.conv(F.substring(md5, 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(md5, 16, 15), 16, 10).cast("long").alias("h2"),
    )
    # Per-bit sign sum Σ±1 == 2·Σbit - n_tok, so aggregate the raw bit
    # sums (shift+mask only, no conditional per bit) plus one count; the
    # sign test "Σ±1 > 0" becomes "2·Σbit > n_tok" in the projection.
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


def simhash_hamming(prefix_a: str = "a.", prefix_b: str = "b.") -> Column:
    """Exact Hamming distance between two (sim_lo, sim_hi) sketches."""
    return (
        F.bit_count(F.col(f"{prefix_a}sim_lo").bitwiseXOR(F.col(f"{prefix_b}sim_lo")))
        + F.bit_count(F.col(f"{prefix_a}sim_hi").bitwiseXOR(F.col(f"{prefix_b}sim_hi")))
    ).cast("int")


def simhash120_df(docs: DataFrame) -> DataFrame:
    """(doc_id, w0, w1) — 120-bit SimHash from the SAME md5 token digests
    as ``simhash_df`` (each 15-hex-char half carries 60 bits; the 64-bit
    sketch uses only 32 of each).  Two 60-bit words: w0 = flat bits 0-59
    from h1, w1 = flat bits 60-119 from h2 — the oracle's lo120/hi120
    layout.  Same tf-weighted sign-sum construction, same
    engine-portable integer math.

    The per-bit sums are SWAR-packed (see SIMHASH_LANE_BITS): each long
    aggregate accumulates three bit positions in 20-bit lanes.  Exact
    while n_tok < SIMHASH_TOKEN_CAP per doc; a doc at the cap raises
    (raise_error in the n_tok guard) rather than silently corrupting
    lane sums — chunk monster rows upstream before sketching."""
    md5 = F.md5(F.col("tok"))
    toks = docs.select("doc_id", F.explode(tokens_col()).alias("tok")).select(
        "doc_id",
        F.conv(F.substring(md5, 1, 15), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(md5, 16, 15), 16, 10).cast("long").alias("h2"),
    )
    aggs = [F.count(F.lit(1)).alias("n_tok")]
    for w, h in (("w0", "h1"), ("w1", "h2")):
        for j in range(0, SIMHASH120_WORD_BITS, SIMHASH_LANES):
            lanes = None
            for k in range(min(SIMHASH_LANES, SIMHASH120_WORD_BITS - j)):
                t = F.shiftright(F.col(h), j + k).bitwiseAND(F.lit(1))
                if k:
                    t = F.shiftleft(t, SIMHASH_LANE_BITS * k)
                lanes = t if lanes is None else lanes + t
            aggs.append(F.sum(lanes).alias(f"{w}_g{j}"))
    bit_sums = toks.groupBy("doc_id").agg(*aggs)
    n_guard = (
        F.when(F.col("n_tok") < F.lit(SIMHASH_TOKEN_CAP), F.col("n_tok"))
        .otherwise(
            F.raise_error(
                F.lit(
                    "simhash120_df: doc exceeds SIMHASH_TOKEN_CAP tokens - "
                    "lane sums would overflow; chunk the doc upstream"
                )
            ).cast("long")
        )
    )
    guarded = bit_sums.select(
        "doc_id",
        n_guard.alias("n_tok"),
        *[c for c in bit_sums.columns if c not in ("doc_id", "n_tok")],
    )
    words = []
    for w in ("w0", "w1"):
        acc = None
        for j in range(0, SIMHASH120_WORD_BITS, SIMHASH_LANES):
            for k in range(min(SIMHASH_LANES, SIMHASH120_WORD_BITS - j)):
                c = F.shiftrightunsigned(
                    F.col(f"{w}_g{j}"), SIMHASH_LANE_BITS * k
                ).bitwiseAND(F.lit(SIMHASH_TOKEN_CAP - 1))
                bit = F.when(c * 2 > F.col("n_tok"), F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                term = F.shiftleft(bit, j + k)
                acc = term if acc is None else acc.bitwiseOR(term)
        words.append(acc.alias(w))
    return guarded.select("doc_id", *words)


def _block_value_words(off: int, width: int, words=SIMHASH120_WORDS, word_bits: int = SIMHASH120_WORD_BITS) -> Column:
    """Bits [off, off+width) of a sketch held as fixed-width words;
    blocks may straddle word boundaries."""
    parts = []
    placed = 0
    while width > 0:
        wi, wo = divmod(off, word_bits)
        take = min(width, word_bits - wo)
        part = F.shiftrightunsigned(F.col(words[wi]), wo).bitwiseAND(F.lit((1 << take) - 1))
        parts.append(F.shiftleft(part, placed) if placed else part)
        off += take
        width -= take
        placed += take
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.bitwiseOR(p)
    return acc


def simhash120_hamming(prefix_a: str = "a.", prefix_b: str = "b.") -> Column:
    acc = None
    for w in SIMHASH120_WORDS:
        t = F.bit_count(F.col(f"{prefix_a}{w}").bitwiseXOR(F.col(f"{prefix_b}{w}")))
        acc = t if acc is None else acc + t
    return acc.cast("int")


def _pigeonhole_pairs(sims: DataFrame, blocks, block_value, hamming) -> DataFrame:
    """The shared candidate-generation + verify join for both SimHash
    widths: probe side = exact (block, value) plus every one-bit flip
    (complete for Hamming ≤ 9 by pigeonhole over ≥5 blocks), build side =
    exact rows only, SHUFFLE_HASH-hinted (Catalyst's stats come from the
    per-doc cached sketch and don't see the probe-side explode — unhinted
    it broadcasts the big side, measured 5× slower at the sf10 decade).
    Hamming-filter sits in the join, distinct only on survivors.

    Join key (round 10): block id and block value are packed into ONE
    long — k = (block << max_width) | value — so the probe explode emits
    a flat long array (no struct build/extract) and the join hashes and
    compares a single column.  The probe shuffle is this operator's
    measured dominant stage at the sf10 decade (its cost is per-ROW, not
    per-byte — slimming rows alone moved nothing), so the explode emits
    the fewest, flattest rows that keep candidate generation complete."""
    sketch_cols = [c for c in sims.columns if c != "doc_id"]
    shift = max(w for _, w in blocks)

    def exploded(flips: bool) -> DataFrame:
        ks = []
        for bi, (off, width) in enumerate(blocks):
            v = block_value(off, width)
            base = F.lit(bi << shift)
            ks.append(base.bitwiseOR(v))
            if flips:
                ks.extend(
                    base.bitwiseOR(v.bitwiseXOR(F.lit(1 << j)))
                    for j in range(width)
                )
        return sims.select("doc_id", *sketch_cols, F.explode(F.array(*ks)).alias("k"))

    a = exploded(True).alias("a")
    b = exploded(False).alias("b")
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.k") == F.col("b.k")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming().alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
    )


def simhash64_from_120(sims120: DataFrame) -> DataFrame:
    """(doc_id, sim_lo, sim_hi) — the 64-bit sketch PROJECTED from the
    120-bit word frame, no second token pass.  Valid because both widths
    take bit i of the sketch half from the SAME per-bit sign sum over
    md5-half bit i: sim_lo = flat bits 0-31 = w0's low 32 bits, sim_hi =
    flat bits 60-91 = w1's low 32 bits.  Pinned equal to ``simhash_df``
    in tests/test_pipeline_ops.py — this is what lets q74 serve both
    method branches from ONE tokenize+md5+sign-sum aggregation."""
    mask = F.lit((1 << 32) - 1)
    return sims120.select(
        "doc_id",
        F.col("w0").bitwiseAND(mask).alias("sim_lo"),
        F.col("w1").bitwiseAND(mask).alias("sim_hi"),
    )


def simhash120_neardup_pairs(
    docs: DataFrame, sims: DataFrame | None = None
) -> DataFrame:
    """q74's contract at 120-bit sketch width — the corpus-scale
    configuration (see SIMHASH120_BLOCKS): same Hamming ≤ 9 bound, same
    block machinery, 24-bit pigeonhole blocks, so random block collisions
    — q74's measured dominant cost at the sf10 decade — drop ~2^11×.
    Guaranteed-complete for its own contract (pinned against all-pairs
    Hamming in tests/test_pipeline_ops.py).  Registered on the driver
    surface since round 9 as q74's 'sim120' method branch.

    ``sims=`` (round 14 — the q73 ``combined=``/``cands=`` idiom) injects
    an already-built ``simhash120_df`` frame so the bench's stage legs
    time the sketch build and the pigeonhole pairs join separately while
    still exercising THIS registered plan, not a parallel formulation.

    Cache contract: the persist()ed sketch frame stays resident after
    materialization (the result is lazy — the builder cannot release it);
    callers issuing repeated passes should spark.catalog.clearCache()
    between them, as the bench does per entry."""
    if sims is None:
        sims = simhash120_df(docs).persist()
    return _pigeonhole_pairs(
        sims, SIMHASH120_BLOCKS, _block_value_words, simhash120_hamming
    ).orderBy("doc_a", "doc_b")


# The full SimHash pipeline, re-derived in DuckDB: md5 token hashes →
# per-bit sign sums → sketch → all-pairs Hamming ≤ 9, for BOTH method
# branches (sim64 and sim120) from one 120-bit sign-sum pass — exactly
# the structure of the Spark side, where the 64-bit sketch is a
# projection of the 120-bit words (flat bit index: 0-59 = md5 half 1,
# 60-119 = md5 half 2; sim64 uses flat bits 0-31 and 60-91).  The oracle
# needs no pigeonholing (it is allowed to be quadratic at sf0.01), so a
# hash-match ALSO proves both block-bucket candidate generations miss
# nothing — guaranteed by the pigeonhole layouts (5 blocks, Hamming<=9
# means some block differs in <=1 bit, covered by exact-block +
# single-bit-multiprobe buckets; see SIMHASH_BLOCKS/SIMHASH120_BLOCKS).
_SIMHASH_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents
    ),
    hs AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT) AS h1,
               CAST('0x' || substring(md5(tok), 16, 15) AS BIGINT) AS h2
        FROM toks
    ),
    sb AS (
        SELECT doc_id, i,
               SUM(CASE WHEN ((CASE WHEN i < 60 THEN h1 >> i
                                    ELSE h2 >> (i - 60) END) & 1) = 1
                        THEN 1 ELSE -1 END) AS s
        FROM hs CROSS JOIN (SELECT unnest(generate_series(0, 119)) AS i) bits
        GROUP BY doc_id, i
    ),
    sims AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN i < 60 AND s > 0 THEN 1::BIGINT << i ELSE 0 END)
                    AS BIGINT) AS lo120,
               CAST(SUM(CASE WHEN i >= 60 AND s > 0 THEN 1::BIGINT << (i - 60) ELSE 0 END)
                    AS BIGINT) AS hi120,
               CAST(SUM(CASE WHEN i < 32 AND s > 0 THEN 1::BIGINT << i ELSE 0 END)
                    AS BIGINT) AS sim_lo,
               CAST(SUM(CASE WHEN i >= 60 AND i < 92 AND s > 0
                             THEN 1::BIGINT << (i - 60) ELSE 0 END)
                    AS BIGINT) AS sim_hi
        FROM sb GROUP BY doc_id
    )
    SELECT method, doc_a, doc_b, hamming FROM (
        SELECT 'sim64' AS method, a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.sim_lo, b.sim_lo))
                    + bit_count(xor(a.sim_hi, b.sim_hi)) AS INT) AS hamming
        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim_lo, b.sim_lo))
              + bit_count(xor(a.sim_hi, b.sim_hi)) <= {HAMMING_MAX}
        UNION ALL
        SELECT 'sim120' AS method, a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.lo120, b.lo120))
                    + bit_count(xor(a.hi120, b.hi120)) AS INT) AS hamming
        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.lo120, b.lo120))
              + bit_count(xor(a.hi120, b.hi120)) <= {HAMMING_MAX}
    ) ORDER BY method, doc_a, doc_b
    """


# Corpus-size boundary for q74's sim64 branch (round 10, VERDICT r9
# item 3): the 64-bit sketch's 13-bit pigeonhole buckets make random
# block collisions scale ~n²·(Σprobes/2¹³) ≈ n²·0.0085 — measured ~7.2 B
# candidate rows / 132 s at 500k docs (r8).  Widening the blocks does
# not fix this: completeness for Hamming ≤ 9 under 4×16-bit blocks needs
# 2-bit multiprobe (137 rows/doc/block), whose probe mass cancels the
# 8× bucket gain almost exactly (4·137/2¹⁶ ≈ 5·14/2¹³) — 64 bits simply
# lacks the entropy for sub-quadratic candidates at this threshold,
# which is WHY sim120 exists.  So above this boundary the registered
# q74 degrades gracefully: the sim64 section returns empty (limit 0 —
# Catalyst prunes the whole branch) and sim120 carries the contract.
# At 150k docs the sim64 candidate mass is ~1.9e8 rows — around the
# cost of the sim120 branch itself; beyond it, quadratic growth takes
# over.  The sf0.01/sf0.001 oracle corpora (≤ 5k docs) sit far below
# the boundary, so the driver hash contract is unchanged.
SIM64_MAX_DOCS = 150_000
# Stats-based equivalent of the same boundary (round 11, VERDICT r10
# item 5): the registered q74 dispatches on Catalyst's plan size
# estimate (plans/inspect.plan_size_bytes — file size for parquet
# scans, ZERO I/O) instead of a full docs.count() scan per invocation.
# The test corpora measure ~150 compressed bytes/doc (sf3 = 150k docs
# = 22.5 MB, sf10 = 500k = 75 MB), so 32 MiB ≈ 210k docs sits between
# the sf3 regime (sim64 still runs, as under the count gate) and sf10
# (sim64 empty) with margin for stats fuzz.  count() remains the
# stats-absent fallback only.
SIM64_MAX_BYTES = 32 * 1024 * 1024


def _block_value(off: int, width: int) -> Column:
    """Bits [off, off+width) of the 64-bit sketch held as sim_lo (bits
    0-31) / sim_hi (bits 32-63); blocks may straddle the half boundary."""
    end = off + width
    if end <= 32:
        return F.shiftrightunsigned(F.col("sim_lo"), off).bitwiseAND(F.lit((1 << width) - 1))
    if off >= 32:
        return F.shiftrightunsigned(F.col("sim_hi"), off - 32).bitwiseAND(
            F.lit((1 << width) - 1)
        )
    lo_bits = 32 - off
    lo_part = F.shiftrightunsigned(F.col("sim_lo"), off).bitwiseAND(F.lit((1 << lo_bits) - 1))
    hi_part = F.col("sim_hi").bitwiseAND(F.lit((1 << (width - lo_bits)) - 1))
    return lo_part.bitwiseOR(F.shiftleft(hi_part, lo_bits))


@query("q74_simhash_neardup", oracle=_SIMHASH_ORACLE)
def q74_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, method-tagged union of BOTH sketch widths
    (round 9, per the r8 verdict: the corpus-scale configuration joins
    the driver-checked surface):

    - 'sim64'  — 64-bit sketch, 13-bit pigeonhole blocks (8192 values):
      the looser similarity bar (Hamming ≤ 9/64 = 86% bit agreement).
      Random block collisions are its measured top-decade cost (~7.2 B
      candidate rows at 500k docs → 132 s sf10, r8), which is why it is
      NOT the production width.
    - 'sim120' — 120-bit sketch from the SAME md5 digests, 24-bit blocks:
      collision mass drops ~2^11, sf10 ≈ 28 s / slope 5.8 (r8).  The
      documented production choice once collision mass dominates.

    Both branches read ONE persisted 120-bit sketch frame — the 64-bit
    sketch is a pure projection of the 120-bit words (bit i of each
    32-bit half shares its sign-sum with word bit i; see
    ``simhash64_from_120``), so the expensive tokenize+md5+sign-sum pass
    runs once for the union, not once per width.

    Candidates by block pigeonholing with single-bit multiprobe
    (guaranteed-complete for Hamming ≤ 9 under 5 blocks), verified by
    exact Hamming distance ≤ 9.  md5-based sketches make the pair sets
    identical across engines, so the driver hash-checks BOTH branches
    against an all-pairs DuckDB re-derivation from one 120-bit sign-sum
    pass (the same shared-pass structure as this side).

    Join shape per branch: the probe side explodes each doc to (block,
    value) plus every one-bit flip of the value; the build side keeps the
    exact (block, value) (5 rows/doc).  XOR-by-one-bit is symmetric, so
    probing one side finds every pair whose minimum-difference block
    differs by 0 or 1 bits — which pigeonhole guarantees for Hamming ≤ 9.
    All key-partitioned equi-joins; candidate mass tracks bucket
    collisions, not corpus size squared.

    Scale regime (round 10; stats-dispatched round 11): above the
    corpus-size boundary the sim64 section returns EMPTY (its 13-bit
    buckets go quadratic there — see the boundary constant's
    derivation) and sim120, whose 24-bit buckets stay survivable,
    carries the result alone.  The size is read from Catalyst's plan
    estimate (SIM64_MAX_BYTES — zero I/O, same dispatch as the
    ppjoin/q75b verify regimes); a count() over the scan is only the
    stats-absent fallback, so a registered q74 run no longer pays a
    full extra corpus scan for the gate (VERDICT r10 item 5).

    Cache contract (same class as ``minhash_verified_pairs``): the
    sketch frame persist()ed below stays resident for the session after
    the result is materialized — the result is lazy, so this builder
    cannot unpersist it itself.  Long-running callers issuing many
    independent passes should spark.catalog.clearCache() between them
    (the bench does exactly this per entry)."""
    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    size = _plan_size_bytes(docs)
    sim64_gated = (
        size > SIM64_MAX_BYTES if size is not None else docs.count() > SIM64_MAX_DOCS
    )
    # persist() the sketch table (one ~24-byte row per doc — ~24 GB per
    # BILLION docs, trivially cache-able cluster-wide): the probe and
    # value sides of both bucket self-joins read it, and without a
    # materialization point Spark plans the whole tokenize+md5+sign-sum
    # sketch pass once PER SIDE (AQE stage reuse can't help — the small
    # side becomes a BroadcastExchange, never a shared shuffle stage).
    sims120 = simhash120_df(docs).persist()
    sims64 = simhash64_from_120(sims120)
    # Join shape, hinting rationale, and the filter-before-distinct
    # ordering live in _pigeonhole_pairs (shared by both widths).
    p64 = _pigeonhole_pairs(sims64, SIMHASH_BLOCKS, _block_value, simhash_hamming)
    if sim64_gated:
        warnings.warn(
            f"q74: corpus is above the sim64 scale boundary "
            f"(plan estimate {size} B > SIM64_MAX_BYTES={SIM64_MAX_BYTES}); "
            "the sim64 section is empty at this scale — use the sim120 rows",
            RuntimeWarning,
            stacklevel=2,
        )
        p64 = p64.limit(0)
    p120 = _pigeonhole_pairs(
        sims120, SIMHASH120_BLOCKS, _block_value_words, simhash120_hamming
    )
    tag = lambda df, m: df.select(  # noqa: E731
        F.lit(m).alias("method"), "doc_a", "doc_b", "hamming"
    )
    return (
        tag(p64, "sim64")
        .unionByName(tag(p120, "sim120"))
        .orderBy("method", "doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated-span detection (round 9): substring-level
# dedup in the style of Lee et al., "Deduplicating Training Data Makes
# Language Models Better" — find every n-token window whose exact token
# sequence occurs more than min_count times ANYWHERE in the corpus
# (within one doc or across docs).  Doc-level dedup (q70-q74) misses
# boilerplate: two unique documents sharing a 200-token license header
# are untouched by MinHash at J=0.5, but every token of that header is
# memorization fuel.  This is the operator that finds it.
# ---------------------------------------------------------------------------


def duplicate_spans(
    docs: DataFrame, n: int = 20, min_count: int = 2
) -> DataFrame:
    """(doc_id, pos, span_hash, span_count): every n-token window
    (0-based token position) whose xxhash64 fingerprint occurs >=
    min_count times corpus-wide, with its global occurrence count.  Callers cut or mask
    the offending spans; ``flag_span_duplicated_docs`` reduces to a
    per-doc verdict.

    Scale shape (the reference point is a distributed suffix array, which
    costs O(tokens·log) shuffle rounds; this is the bounded-n relaxation
    at exactly TWO exchanges, both carrying LONGS only):

    1. posexplode tokens, then immediately xxhash64 each token to a
       long: exchange #1 (the per-doc window pass below) carries
       (doc_id, pos, h) — 24 bytes/token — instead of token strings.
    2. ONE window pass per doc fingerprints each n-token span as a
       native multi-column xxhash64 over (h, lead(h,1..n-1)) — pure JVM
       long hashing, no string concat in the hot loop (q81's
       hashed-fingerprint lesson applied here: measured r10 n=10,
       string-window 1.33-1.39 s sf0.1 / 1.76-1.94 s sf1 vs this form
       0.91-0.97 / 1.46-1.48, identical span positions and counts).
       A third, zero-shuffle variant — building gram hashes map-only
       with a transform() over the token array à la shingles_df — was
       measured and REJECTED like r9's map-side MinHash: the
       interpreted HOF lambda costs more than the narrow shuffle it
       saves (2.29 s sf1 vs 1.46 s here).
    3. ONE groupBy span-hash keeps hashes with count >= min_count —
       exchange #2, carrying (hash, doc_id, pos) longs, combiner
       applies map-side.

    The survivors join back candidate-bounded (the duplicated-hash set is
    tiny next to the corpus), same discipline as the MinHash verify; both
    join sides come from shuffles, so AQE picks the physical strategy
    from the REAL materialized sizes at runtime — a boilerplate-heavy
    corpus with a huge duplicated-hash set degrades to a sort-merge join
    instead of a broadcast OOM (no stats-blind dispatch needed here).
    64-bit fingerprints stand in for the token sequence (two hash layers:
    token→long, then span over n longs); at ~1e12 spans the birthday
    collision mass is ~0.03 per corpus — callers needing exactness
    re-verify survivor spans textually (they are few)."""
    staged = docs.select("doc_id", tokens_col().alias("toks"))
    toks = staged.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    ).select("doc_id", "pos", F.xxhash64("tok").alias("h"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    # Two-level fingerprint for wide windows: an n-token window is the
    # concatenation of ⌊n/5⌋ non-overlapping 5-token blocks plus a
    # remainder, so hashing 5-token block hashes first cuts the lead()
    # count from n-1 to ~4+⌈n/5⌉ (n=20: 19 → 7 window expressions; the
    # two Window operators share one exchange+sort).  Measured r10 at
    # n=20: 0.94→0.79 s sf0.1, 1.19→1.08 s sf1, identical span
    # positions/counts.  Narrow windows keep the flat form.
    k_block = 5
    m, r = divmod(n, k_block)
    if m >= 2:
        base = toks.withColumn(
            "g",
            F.xxhash64(F.col("h"), *[F.lead("h", j).over(w) for j in range(1, k_block)]),
        )
        span_fp = F.xxhash64(
            F.col("g"),
            *[F.lead("g", k_block * j).over(w) for j in range(1, m)],
            *[F.lead("h", k_block * m + j).over(w) for j in range(r)],
        )
    else:
        base = toks
        span_fp = F.xxhash64(F.col("h"), *[F.lead("h", k).over(w) for k in range(1, n)])
    spans = (
        base.select(
            "doc_id",
            "pos",
            F.lead("pos", n - 1).over(w).alias("end_pos"),
            span_fp.alias("span_hash"),
        )
        # windows running off the end of the doc have < n tokens
        .filter(F.col("end_pos").isNotNull())
        .select("doc_id", "pos", "span_hash")
    )
    dup_hashes = (
        spans.groupBy("span_hash")
        .agg(F.count(F.lit(1)).alias("span_count"))
        .filter(F.col("span_count") >= min_count)
    )
    return spans.join(dup_hashes, "span_hash").select(
        "doc_id", "pos", "span_hash", "span_count"
    )


def flag_span_duplicated_docs(
    docs: DataFrame,
    n: int = 20,
    min_count: int = 2,
    spans: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_dup_spans, max_span_count): one row per document that
    contains at least one corpus-duplicated n-token span — the document-
    level gate over ``duplicate_spans`` (anti-join against this to drop
    boilerplate carriers, or use n_dup_spans as a filter feature).

    ``spans`` lets a caller that ALSO runs the cut path (q70's union)
    inject one shared — typically persisted — ``duplicate_spans`` frame
    so the two token-stream exchanges run once, not once per section."""
    return (
        (spans if spans is not None else duplicate_spans(docs, n=n, min_count=min_count))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dup_spans"),
            F.max("span_count").cast("bigint").alias("max_span_count"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = 20,
    min_count: int = 2,
    keep_first: bool = True,
    spans: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, text): the corpus with corpus-duplicated n-token spans CUT
    from each document — the remediation step over ``duplicate_spans``
    (Lee et al. cut duplicated substrings rather than dropping whole
    docs).  A token is removed iff it is covered by some flagged span
    [pos, pos+n); with ``keep_first`` the globally-first occurrence of
    each span hash (min (doc_id, pos) order) survives, so one copy of
    shared boilerplate remains in the corpus.

    Scale shape: duplicate_spans' two token-stream exchanges, plus one
    window pass to pick first occurrences (keyed by span hash) and one
    groupBy doc_id to collect that doc's flagged positions (dup-bounded,
    tiny next to the corpus).  The rewrite itself is a per-row JVM
    filter-by-index over the token array — flagged docs only; untouched
    docs keep their original text byte-for-byte via the left join.

    ``spans`` — same shared-frame injection as
    ``flag_span_duplicated_docs`` (q70 passes one persisted
    duplicate_spans result to both sections)."""
    if spans is None:
        spans = duplicate_spans(docs, n=n, min_count=min_count)
    if keep_first:
        w = Window.partitionBy("span_hash").orderBy("doc_id", "pos")
        spans = spans.withColumn("rk", F.row_number().over(w)).filter(
            F.col("rk") > 1
        )
    cut_pos = spans.groupBy("doc_id").agg(
        F.collect_set("pos").alias("cut_starts")
    )
    staged = docs.select("doc_id", "text").join(cut_pos, "doc_id", "left")
    # keep token i unless some flagged start p satisfies p <= i < p + n;
    # the lambda touches only lambda vars + the (bounded) cut_starts array.
    # The rewrite runs over CASE-PRESERVED tokens (same split+filter as
    # tokens_col minus the lower(); empty-string positions align, so the
    # lowercased span positions index both arrays identically) — flagged
    # docs lose inter-token whitespace runs but not case.
    kept = F.expr(
        "filter(transform(raw_toks, (t, i) -> IF("
        f"  exists(cut_starts, p -> p <= i AND i < p + {int(n)}), NULL, t)),"
        " t -> t IS NOT NULL)"
    )
    raw_toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    return staged.select(
        "doc_id", "text", raw_toks.alias("raw_toks"), "cut_starts"
    ).select(
        "doc_id",
        F.when(F.col("cut_starts").isNull(), F.col("text"))
        .otherwise(F.array_join(kept, " "))
        .alias("text"),
    )
