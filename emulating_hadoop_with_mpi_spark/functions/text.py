"""Text-analysis operators over the `documents` table (north-star scope:
the text half of an LLM training-data pipeline).

All hot-path expressions are JVM builtins (split / filter / aggregate /
regexp_*) — no Python UDFs — so they whole-stage-codegen and scale linearly
with partitions.  Each op has a DuckDB oracle built from the same exact
integer counts (ratios are int/int divisions rounded to 6dp, deterministic
across engines).
"""

from __future__ import annotations

import re as _re

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark.functions.sampling import (
    DEFAULT_SPLITS as _DEFAULT_SPLITS,
    global_order_index as _global_order_index,
    mixture_keep_case as _mixture_keep_case,
    mixture_oracle_ctes as _mixture_oracle_ctes,
    mixture_rate_values as _mixture_rate_values,
    order_key_oracle_sql as _order_key_oracle_sql,
    ranged_running_total as _ranged_running_total,
    split_bucket_oracle_sql as _split_bucket_oracle_sql,
    split_column as _split_column,
    split_oracle_case as _split_oracle_case,
    stratified_keep as _stratified_keep,
    stratified_keep_oracle_case as _stratified_keep_oracle_case,
)

# q82's registered stratified-sampling check (round 12, the second half
# of VERDICT r11 item 3): keep 50% of the dominant 'en' stratum, all of
# the rest — the canonical corpus-rebalancing selection, as a map-only
# boolean column whose md5 bucket the DuckDB oracle re-derives per row.
Q82_SAMPLE_FRACTIONS = {"en": 0.5}

# q82's registered data-mixture check (round 13 continuation): resample
# the corpus to 2:1:1:1:1 en:es:de:fr:zh BY CHARACTERS — the data-mixing
# op (Pile/DoReMi-style domain reweighting) whose integer-exact keep
# rates the DuckDB oracle re-derives from the same per-language masses
# (functions/sampling.mixture_rates).  Mass = the documents table's
# n_chars column, NOT a tokenize: the rates aggregate reads two tiny
# columns, so q82's corpus-text scan count stays at the pinned 4 and the
# 100 TB mixing pass never touches the text bytes.
MIX_WEIGHTS = {"en": 2, "es": 1, "de": 1, "fr": 1, "zh": 1}
MIX_SALT = "mix"

# q86's registered training-order shuffle salt (round 13 continuation):
# the deterministic global permutation every training run shards by.
SHUFFLE_SALT = "shuf"

# q85's 'budget' section (round 13 continuation): token-budget quality
# selection — take best-quality documents until the budget fills.
TOKEN_BUDGET_SECTION = 12_288
from emulating_hadoop_with_mpi_spark.registry import query
from emulating_hadoop_with_mpi_spark.sources.tables import load_table

# Tiny per-language stopword lists for the lang-id heuristic.  Deliberately
# deterministic and SQL-expressible (the scoring, not the lists, is the
# operator under test).
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "los", "por", "con"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit", "auf", "nicht"),
    "fr": ("le", "la", "de", "et", "les", "un", "est", "pour", "dans", "que"),
}

ALL_STOPWORDS = tuple(sorted({w for ws in STOPWORDS.values() for w in ws}))

# A BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation marks.
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Fixed BPE tokenizer artifact for q82's n_bpe_enc column (round 11,
# VERDICT r10 missing-item 2): encoding with a FIXED merge list is the
# production-shaped half of BPE (the tokenizer is a frozen artifact at
# training time) and IS SQL-expressible as nested replaces, so it rides
# the driver-checked surface even though the iterative trainer cannot.
# Provenance: bpe_train(sf0.01 documents, num_merges=16, batch_k=8) —
# reproduced by the pure-Python batched reference (tests/test_bpe.py);
# symbols are corpus-lowercase alphanumerics + the </w> marker (no
# quotes/backslashes/U+001F, asserted when the oracle chain is built).
BPE_SECTION_MERGES = (
    ("e", "r"), ("n", "</w>"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("p", "a"), ("c", "h"), ("e", "</w>"),
    ("o", "r"), ("m", "er"), ("a", "t"), ("i", "n"),
    ("s", "h"), ("c", "u"), ("ow", "</w>"), ("pa", "r"),
)


def _bpe_enc_oracle_expr(toks_expr: str) -> str:
    """DuckDB twin of bpe_wrapped_doc_col over a token-list expression:
    wrap into the ␟-separated symbol string, replay BPE_SECTION_MERGES
    as nested replace()s (both engines replace left-to-right,
    non-overlapping — BPE's merge semantics)."""
    wd = (
        "e'\\x1F' || array_to_string(flatten(list_transform("
        f"{toks_expr}, w -> list_append(string_split(w, ''), '</w>')"
        ")), e'\\x1F\\x1F') || e'\\x1F'"
    )
    for a, b in BPE_SECTION_MERGES:
        assert not set("'\\\x1f") & set(a + b), (a, b)
        wd = f"replace({wd}, e'\\x1F{a}\\x1F\\x1F{b}\\x1F', e'\\x1F{a}{b}\\x1F')"
    return wd

# The RE2-safe PII regexes (no lookarounds — compile identically under
# Java regex and DuckDB's RE2).  Defined HERE, not in functions.pipeline
# where the redaction chain lives, because q80's oracle string embeds
# them at import time and pipeline imports this module (the reverse
# import would be a cycle); pipeline re-exports them into PII_PATTERNS.
# The IPv4/phone patterns carry (?<!...) lookarounds RE2 lacks, so they
# live only in pipeline.py and stay property-test-checked (NOTES r10).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# separator-grouped 4-4-4-n / amex 4-6-5, or bare 13-16 digits anchored
# on a real IIN major-industry digit — [2-6] since round 11: 2 covers
# MIR (2200-2204, ADVICE r10 recall case) while still excluding the
# 16-digit microsecond-epoch class (those lead with 1 until year 2286),
# which was the ADVICE r9 precision case this anchor exists for.
PII_CARD_RE = (
    r"\b(?:\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{1,4}"
    r"|\d{4}[ -]\d{6}[ -]\d{5}"
    r"|[2-6]\d{12,15})\b"
)
PII_SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"

# Planted PII canary row for q80's audit section: the synthetic corpus
# contains zero PII-shaped strings (probed r10), so without a planted
# row the driver's hash check of the pii counts would be vacuously
# all-zeros.  One literal row — expressible identically in Spark and
# DuckDB — makes the check pin actual cross-engine pattern semantics:
# one email, one grouped card, one SSN, and a 16-digit microsecond
# epoch that must NOT count as a card (the ADVICE r9 precision case).
PII_CANARY_DOC_ID = -1
PII_CANARY_TEXT = (
    "contact jane.doe@example.com card 4111 1111 1111 1111 "
    "ssn 123-45-6789 ts 1786741210082019 ok"
)

FINGERPRINT_PREFIX = 256  # chars of text folded into the rolling hash
FP_MOD = 2147483647

# corpus-size boundary above which q84 stops broadcasting the O(vocab)
# df table (same regime boundary as the dedup family's verify joins)
TFIDF_PARTITIONED_BYTES = 64 * 1024 * 1024


def tokens_col(text: str | Column = "text") -> Column:
    """Whitespace tokens of lowercased text, empty strings dropped —
    identical semantics to the oracle's string_split_regex + list_filter."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda x: x != "")


_SQL_TOKENS = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x != '')"


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


@query(
    "q80_token_stats",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, lang, text FROM documents
        UNION ALL SELECT {PII_CANARY_DOC_ID}, 'xx', '{PII_CANARY_TEXT}'
    ),
    tok AS (SELECT doc_id, lang, {_SQL_TOKENS} AS toks, text FROM docs),
    pii AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS INT) AS n_email,
               CAST(len(regexp_extract_all(m1, '{PII_CARD_RE}')) AS INT) AS n_card,
               CAST(len(regexp_extract_all(
                   regexp_replace(m1, '{PII_CARD_RE}', '<CARD>', 'g'),
                   '{PII_SSN_RE}')) AS INT) AS n_ssn
        FROM (SELECT doc_id, text,
                     regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS m1
              FROM docs)
    )
    SELECT doc_id, lang,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_uniq_tokens,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS INT) AS n_bpe_tokens,
           n_email, n_card, n_ssn
    FROM tok JOIN pii USING (doc_id)
    ORDER BY doc_id
    """,
)
def q80_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, characters, and a
    BPE-ish regex pre-tokenization count — all JVM-side.  (The repetition
    fractions briefly prototyped here in r9 live in q81, the quality-filter
    family they belong to — and where the per-query time budget absorbs
    them: q80's r1 baseline is 0.52 s and the features cost ~0.6 s
    materialized.)

    Since round 10 this also carries the PII audit section (VERDICT r9
    item 4): per-doc n_email / n_card / n_ssn from pii_counts'
    sequential-masking chain, restricted to the RE2-expressible patterns
    so DuckDB can hash-check them (the IPv4/phone patterns need
    lookarounds RE2 lacks — property-test-only by design).  The counts
    ride the SAME single projection (no join, still map-only), and a
    planted literal canary row (doc_id = {PII_CANARY_DOC_ID}) keeps the
    check non-vacuous on the PII-free synthetic corpus — including the
    16-digit-epoch-is-not-a-card precision case."""
    # lazy import: pipeline imports this module at load time (chunking),
    # so the reverse import must happen at call time
    from emulating_hadoop_with_mpi_spark.functions.pipeline import (
        PII_PATTERNS_RE2,
        pii_count_cols,
    )

    # pre-sorted narrow input (see q81's note: a post-compute orderBy
    # makes the range-sampling pass execute the feature plan twice)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    canary = docs.sparkSession.createDataFrame(
        [(PII_CANARY_DOC_ID, "xx", PII_CANARY_TEXT)],
        schema="doc_id bigint, lang string, text string",
    )
    def stats(frame: DataFrame) -> DataFrame:
        return token_stats(
            frame, extra_cols=pii_count_cols(patterns=PII_PATTERNS_RE2)
        )

    # The canary row unions into the RESULT, not the input: wrapping the
    # parquet scan in a union before the sort costs ~0.45 s at sf0.1
    # (measured r10: 1.29 s vs 0.81 s — the union node blocks the pure
    # scan+project pipeline).  Prepending keeps global doc_id order
    # because the canary id (-1) sorts before every real document.
    return stats(canary).unionByName(stats(docs.orderBy("doc_id")))


def token_stats(
    docs: DataFrame,
    extra_cols: list | tuple = (),
) -> DataFrame:
    """q80's body over any (doc_id, lang, text) frame; ``extra_cols``
    are appended to the same single projection (q80's PII section).
    Stays all-Catalyst on purpose: an Arrow-kernel form measured no
    faster (OPTIMIZATION_r18.md §7, removed after 221c068)."""
    # materialize the token array once (tokens_col() per expression would
    # re-split the text; see shingles_df note in dedup.py)
    staged = docs.select(
        "doc_id",
        "lang",
        "text",
        tokens_col().alias("toks"),
    )
    return staged.select(
        "doc_id",
        "lang",
        F.size("toks").cast("int").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("int").alias("n_uniq_tokens"),
        F.length("text").cast("int").alias("n_chars"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).cast("int").alias("n_bpe_tokens"),
        *extra_cols,
    )


def _sql_ratio(num: str, den: str) -> str:
    return f"CASE WHEN {den} = 0 THEN 0.0 ELSE ROUND(CAST({num} AS DOUBLE) / {den}, 6) END"


def _ratio(num: Column, den: Column) -> Column:
    return F.when(den == 0, F.lit(0.0)).otherwise(F.round(num.cast("double") / den, 6))


# Shared quality-feature CTE block (q81's oracle AND q82's classifier
# section train on the same features): produces relation
# ``{prefix}qfeat(doc_id, n_chars, n_tokens, ratios…, quality)``.
# Parameterized (round 15) so one oracle can carry TWO feature passes —
# q85's curate section re-scores the span-cut texts with prefix "rq".
def _qfeat_ctes_from(
    tok_sql: str | None = None, prefix: str = "", materialize: bool = False
) -> str:
    """Quality-feature CTE chain over an arbitrary (doc_id, text, toks)
    relation.  ``tok_sql`` defaults to the documents table (the q81/q82
    shared block); ``prefix`` namespaces every CTE so two instances can
    coexist in one WITH list.  ``materialize`` marks the tok and qfeat
    CTEs ``AS MATERIALIZED`` — REQUIRED when ``tok_sql`` is itself an
    expensive CTE chain (q85's span-cut texts): DuckDB 1.0 inlines CTEs
    per reference, so without the hint the feature chain's 4-5 self-
    references re-expand the whole upstream pipeline multiplicatively
    (measured: the curate oracle went >120 s → 0.8 s at sf0.001 with
    the hints).  The default documents instance stays unhinted — its
    tok is a plain scan and the r1-r14 hashes are proven on that form."""
    p = prefix
    mat = "MATERIALIZED " if materialize else ""
    tok_sql = tok_sql or f"SELECT doc_id, text, {_SQL_TOKENS} AS toks FROM documents"
    return f"""{p}tok AS {mat}({tok_sql}),
    {p}words AS (
        SELECT doc_id, MAX(c) AS max_word FROM (
            SELECT doc_id, w, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(toks) AS w FROM {p}tok)
            GROUP BY doc_id, w
        ) GROUP BY doc_id
    ),
    {p}g2 AS (
        SELECT doc_id, MAX(c) AS top2, CAST(SUM(c) AS BIGINT) AS n2 FROM (
            SELECT doc_id, gram, COUNT(*) AS c FROM (
                SELECT t.doc_id, t.toks[s.i] || ' ' || t.toks[s.i + 1] AS gram
                FROM {p}tok t CROSS JOIN LATERAL (
                    SELECT unnest(generate_series(1, len(t.toks) - 1)) AS i
                ) s
            ) GROUP BY doc_id, gram
        ) GROUP BY doc_id
    ),
    {p}g3 AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n3,
               CAST(COUNT(DISTINCT gram) AS BIGINT) AS d3 FROM (
            SELECT t.doc_id,
                   t.toks[s.i] || ' ' || t.toks[s.i + 1] || ' ' || t.toks[s.i + 2] AS gram
            FROM {p}tok t CROSS JOIN LATERAL (
                SELECT unnest(generate_series(1, len(t.toks) - 2)) AS i
            ) s
        ) GROUP BY doc_id
    ),
    {p}feats AS (
        SELECT {p}tok.doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
               CAST(len(list_filter(toks,
                        x -> list_contains({list(ALL_STOPWORDS)!r}, x))) AS BIGINT) AS n_stop,
               COALESCE({p}words.max_word, 0) AS max_word,
               COALESCE({p}g2.top2, 0) AS top2, COALESCE({p}g2.n2, 0) AS n2,
               COALESCE({p}g3.n3, 0) AS n3, COALESCE({p}g3.d3, 0) AS d3
        FROM {p}tok
        LEFT JOIN {p}words ON {p}words.doc_id = {p}tok.doc_id
        LEFT JOIN {p}g2 ON {p}g2.doc_id = {p}tok.doc_id
        LEFT JOIN {p}g3 ON {p}g3.doc_id = {p}tok.doc_id
    ),
    {p}qfeat AS {mat}(
        SELECT doc_id, n_chars, n_tokens,
               {_sql_ratio("n_alpha", "n_chars")} AS alpha_ratio,
               {_sql_ratio("n_digit", "n_chars")} AS digit_ratio,
               {_sql_ratio("n_stop", "n_tokens")} AS stopword_ratio,
               {_sql_ratio("max_word", "n_tokens")} AS max_word_frac,
               {_sql_ratio("top2", "n2")} AS top_bigram_frac,
               {_sql_ratio("n3 - d3", "n3")} AS dup_trigram_frac,
               -- integer-exact score: scaled weights + integer division, so no
               -- engine-dependent float rounding (midpoint hazard) can occur
               CASE WHEN n_chars * n_tokens = 0 THEN 0.0
                    ELSE CAST((500000 * n_alpha * n_tokens + 300000 * n_stop * n_chars
                               + CASE WHEN n_tokens >= 20
                                      THEN 200000 * n_chars * n_tokens ELSE 0 END)
                              // (n_chars * n_tokens) AS DOUBLE) / 1000000
               END AS quality
        FROM {p}feats
    )"""


_QFEAT_CTES = _qfeat_ctes_from()


@query(
    "q81_quality_score",
    oracle=f"""
    WITH {_QFEAT_CTES}
    SELECT doc_id, n_chars, n_tokens, alpha_ratio, digit_ratio, stopword_ratio,
           max_word_frac, top_bigram_frac, dup_trigram_frac, quality
    FROM qfeat
    ORDER BY doc_id
    """,
)
def q81_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring from exact character/token counts:
    alpha/digit ratios, stopword ratio, length gate — combined into a
    [0,1] score (the classic Gopher/C4-style filter-feature family) —
    plus, since r9, the Gopher REPETITION filter features: most-frequent
    word / n_tokens, most-frequent word-2-gram / n_2grams, and the
    duplicate-3-gram fraction.

    The repetition counts are MAP-ONLY at any corpus size: array_sort +
    a run-length aggregate lambda (_max_run) gives the per-doc mode count
    with zero shuffle, instead of Gopher's explode+groupBy.  The n-gram
    arrays are built once per row behind an explode(array(...)) barrier —
    without it CollapseProject inlines the tokenize expression into every
    reference and the split re-runs per reference (and per ELEMENT if a
    lambda body names the column; measured 4× q80's entire runtime when
    these features were first prototyped there)."""
    docs = load_table(spark, sf_dir, "documents")
    # Sort the NARROW input, then compute map-side: orderBy placed after
    # the feature projection makes the range-partitioner's sampling pass
    # execute the whole feature plan a second time (measured 0.72 s →
    # 1.87 s).  Row order survives the narrow projections, so the output
    # contract (ordered by doc_id) is unchanged.
    return quality_scores(docs.select("doc_id", "text").orderBy("doc_id"))


# ---------------------------------------------------------------------------
# Quality-feature Arrow kernel (round 18, guide §4.2 — the r17 MinHash
# pattern applied to the quality family): the per-doc repetition counts
# (most-frequent word / bigram, duplicate-trigram distincts) and the
# stopword/alpha/digit counts were Catalyst higher-order functions
# (transform / zip_with / aggregate / filter lambdas) — interpreted PER
# ELEMENT, the same cost class the MinHash kernel removed.  One
# mapInArrow over (doc_id, text) now computes every count vectorized:
# character classes as NumPy byte masks over the contiguous Arrow string
# buffer, token modes via dictionary-encode + segmented reduceat.  The
# ratio/quality projections stay in the JVM (identical expressions to
# the former formulation), so every emitted value is bit-identical —
# pinned against the retained _quality_scores_jvm twin in
# tests/test_quality_kernel.py and by the q81/q82/q85 oracles.
# ---------------------------------------------------------------------------

# Java regex \s — what tokens_col splits on (python re over the same
# class; the corpus tokenizer's semantics, NOT python's \s which adds
# \x1c-\x1f etc.)
_JAVA_WS_RE = _re.compile("[ \t\n\x0b\f\r]+")


def _qfeat_batches_fn(keep_text: bool):
    """mapInArrow generator over (doc_id, text) batches → per-doc count
    columns (n_chars, n_tokens, n_alpha, n_digit, n_stop, max_word, top2,
    n2, n3, d3), all bigint.  Bit-identical to the
    former Catalyst formulation: same Java-\\s tokenization of
    lower(text) with empties dropped, ASCII [a-zA-Z]/[0-9] class counts,
    length() = codepoint count (UTF-8 non-continuation bytes), exact
    per-doc mode counts (the former xxhash64 fingerprint run-length
    gave the same values absent 64-bit collisions).

    Everything the generator references is nested or bound by value —
    NO module-function references — so cloudpickle ships the whole
    closure by value and Python workers need NOT be able to import this
    package (the driver may run from any cwd; the r17 MinHash kernel set
    the precedent)."""
    stop_set = set(ALL_STOPWORDS)
    ws_re = _JAVA_WS_RE

    def seg_sums(mask: np.ndarray, offsets: np.ndarray) -> np.ndarray:
        """Per-segment sums of a boolean mask: cumsum sampled at offsets."""
        cs = np.zeros(mask.size + 1, dtype=np.int64)
        np.cumsum(mask, out=cs[1:])
        return cs[offsets[1:]] - cs[offsets[:-1]]

    def seg_mode(row_ids: np.ndarray, codes: np.ndarray, k: int, n: int) -> np.ndarray:
        """Count of the most frequent code per row (0 for empty rows):
        unique over the composite (row, code) key, then a segmented max
        of the counts — the vectorized twin of _max_run over sorted
        hashes."""
        out = np.zeros(n, dtype=np.int64)
        if codes.size == 0:
            return out
        key = row_ids * k + codes
        uk, uc = np.unique(key, return_counts=True)
        urow = uk // k
        starts = np.concatenate(([0], np.flatnonzero(np.diff(urow)) + 1))
        out[urow[starts]] = np.maximum.reduceat(uc, starts)
        return out

    def gen(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            names = batch.schema.names
            ids = batch.column(names.index("doc_id"))
            text_arr = batch.column(names.index("text"))
            if text_arr.null_count:
                raise ValueError(
                    "quality kernel: null text (upstream contract is non-null)"
                )
            bufs = text_arr.buffers()
            off_dtype = (
                np.int64 if pa.types.is_large_string(text_arr.type) else np.int32
            )
            # sliced arrays: offsets need not start at 0 — rebase to the
            # slice's own byte range before the segmented sums
            offs = np.frombuffer(bufs[1], dtype=off_dtype)[
                text_arr.offset : text_arr.offset + n + 1
            ].astype(np.int64)
            data = np.frombuffer(bufs[2], dtype=np.uint8)[offs[0] : offs[-1]]
            ends = offs - offs[0]
            n_chars = seg_sums((data & 0xC0) != 0x80, ends)
            m_alpha = ((data >= 65) & (data <= 90)) | ((data >= 97) & (data <= 122))
            n_alpha = seg_sums(m_alpha, ends)
            n_digit = seg_sums((data >= 48) & (data <= 57), ends)

            texts = text_arr.to_pylist()
            flat: list = []
            counts = np.empty(n, dtype=np.int64)
            for i, t in enumerate(texts):
                tk = [w for w in ws_re.split(t.lower()) if w]
                counts[i] = len(tk)
                flat.extend(tk)
            tok_off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(counts, out=tok_off[1:])

            if flat:
                enc = pa.array(flat, type=pa.string()).dictionary_encode()
                codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
                dic = enc.dictionary.to_pylist()
            else:
                codes = np.zeros(0, dtype=np.int64)
                dic = []
            k = max(len(dic), 1)
            stop_flag = np.fromiter(
                (s in stop_set for s in dic), dtype=bool, count=len(dic)
            )
            n_stop = seg_sums(
                stop_flag[codes] if codes.size else np.zeros(0, dtype=bool), tok_off
            )

            # int64 composite keys: guard the (rows × dict) products
            # loudly (a 10k-row batch over any real vocabulary is
            # orders of magnitude below this)
            lim = 1 << 62
            if codes.size >= (1 << 31) or n * k >= lim or k * k >= lim:
                raise ValueError("quality kernel: batch too large for int64 keys")
            row_ids = np.repeat(np.arange(n, dtype=np.int64), counts)
            max_word = seg_mode(row_ids, codes, k, n)
            pos = np.arange(codes.size, dtype=np.int64)
            has_next = (
                (pos + 1) < tok_off[row_ids + 1]
                if codes.size
                else np.zeros(0, dtype=bool)
            )
            b_idx = np.flatnonzero(has_next)
            # bigram code = dense rank of (code, next code) pairs
            pk = codes[b_idx] * k + codes[b_idx + 1]
            up, pinv = np.unique(pk, return_inverse=True)
            kp = max(len(up), 1)
            if n * kp >= lim or kp * k >= lim:
                raise ValueError("quality kernel: batch too large for int64 keys")
            top2 = seg_mode(row_ids[b_idx], pinv, kp, n)
            # trigram distincts: (bigram rank at i, code at i+2)
            has_next2 = (
                (pos + 2) < tok_off[row_ids + 1]
                if codes.size
                else np.zeros(0, dtype=bool)
            )
            t_idx = np.flatnonzero(has_next2)
            pinv_at = np.full(codes.size, -1, dtype=np.int64)
            pinv_at[b_idx] = pinv
            tk_key = pinv_at[t_idx] * k + codes[t_idx + 2]
            ut = np.unique(tk_key)
            tinv = np.searchsorted(ut, tk_key)
            kt = max(len(ut), 1)
            if n * kt >= lim:
                raise ValueError("quality kernel: batch too large for int64 keys")
            trikey = row_ids[t_idx] * kt + tinv
            utk = np.unique(trikey)
            d3 = np.bincount((utk // kt).astype(np.int64), minlength=n)

            cols = [ids] + ([batch.column(names.index("text"))] if keep_text else [])
            out_names = ["doc_id"] + (["text"] if keep_text else [])
            by_name = {
                "n_chars": n_chars,
                "n_tokens": counts,
                "n_alpha": n_alpha,
                "n_digit": n_digit,
                "n_stop": n_stop,
                "max_word": max_word,
                "top2": top2,
                "n2": np.maximum(counts - 1, 0),
                "n3": np.maximum(counts - 2, 0),
                "d3": d3.astype(np.int64),
            }
            for name, values in by_name.items():
                cols.append(pa.array(values, type=pa.int64()))
                out_names.append(name)
            yield pa.RecordBatch.from_arrays(cols, names=out_names)

    return gen


def _qfeat_schema(keep_text: bool) -> str:
    counts = ["n_chars", "n_tokens", "n_alpha", "n_digit", "n_stop",
              "max_word", "top2", "n2", "n3", "d3"]
    cols = ["doc_id bigint"] + (["text string"] if keep_text else [])
    return ", ".join(cols + [f"{c} bigint" for c in counts])


def _with_quality(feats: DataFrame) -> DataFrame:
    """``feats`` plus the integer-exact ``quality`` column (see the
    oracle comment): scaled weights and integer division (`div`), immune
    to cross-engine float-rounding midpoints.  Reads n_alpha, n_stop,
    n_chars and n_tokens."""
    staged = feats.withColumn(
        "q_num",
        500000 * F.col("n_alpha") * F.col("n_tokens")
        + 300000 * F.col("n_stop") * F.col("n_chars")
        + F.when(
            F.col("n_tokens") >= 20, 200000 * F.col("n_chars") * F.col("n_tokens")
        ).otherwise(F.lit(0)),
    ).withColumn("q_den", F.col("n_chars") * F.col("n_tokens"))
    return staged.withColumn(
        "quality",
        F.when(F.col("q_den") == 0, F.lit(0.0)).otherwise(
            F.expr("CAST(q_num div q_den AS DOUBLE)") / 1000000
        ),
    )


def _quality_ratio_projection(feats: DataFrame, keep_text: bool) -> DataFrame:
    """The ratio/quality projection over a full count frame — shared by
    the kernel path and the retained JVM twin so the emitted expressions
    (and therefore every rounded value) are literally identical."""
    alpha_r = _ratio(F.col("n_alpha"), F.col("n_chars"))
    digit_r = _ratio(F.col("n_digit"), F.col("n_chars"))
    stop_r = _ratio(F.col("n_stop"), F.col("n_tokens"))
    max_word_r = _ratio(F.col("max_word"), F.col("n_tokens"))
    top2_r = _ratio(F.col("top2"), F.col("n2"))
    dup3_r = _ratio(F.col("n3") - F.col("d3"), F.col("n3"))
    return _with_quality(feats).select(
        "doc_id",
        *(["text"] if keep_text else []),
        "n_chars",
        "n_tokens",
        alpha_r.alias("alpha_ratio"),
        digit_r.alias("digit_ratio"),
        stop_r.alias("stopword_ratio"),
        max_word_r.alias("max_word_frac"),
        top2_r.alias("top_bigram_frac"),
        dup3_r.alias("dup_trigram_frac"),
        "quality",
    )


def quality_scores(docs: DataFrame, keep_text: bool = False) -> DataFrame:
    """(doc_id, counts, ratios, repetition fractions, quality) for any
    documents frame — the reusable core of q81 (also the gate stage of
    functions/pipeline.curate_corpus).  ``keep_text`` appends the input
    ``text`` column to the output, so a caller that needs the scored
    text (the span-cut re-scoring in curate_frames) gets scores AND text
    in ONE feature pass instead of a self-join.

    Round 18: the per-doc counts come from the vectorized Arrow kernel
    (_qfeat_batches_fn — guide §4.2) instead of interpreted Catalyst
    higher-order functions; the ratio/quality projection is unchanged
    JVM expression code, so values are bit-identical to the former
    formulation (pinned in tests/test_quality_kernel.py against the
    retained _quality_scores_jvm twin)."""
    feats = docs.select("doc_id", "text").mapInArrow(
        _qfeat_batches_fn(keep_text), _qfeat_schema(keep_text)
    )
    return _quality_ratio_projection(feats, keep_text)


def _quality_scores_jvm(docs: DataFrame, keep_text: bool = False) -> DataFrame:
    """The former all-Catalyst formulation of :func:`quality_scores`
    (rounds 9-17), retained as the kernel's equality twin."""
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


def quality_gate_scores(docs: DataFrame, keep_text: bool = False) -> DataFrame:
    """(doc_id[, text], n_tokens, quality): the gate/budget SUBSET of
    :func:`quality_scores` — bit-identical integer-exact ``quality`` and
    token count (same formula, same inputs), none of the repetition
    features.  Exists for plan-construction cost (round 15): the
    curation pipeline builds this expression tree twice per invocation
    (top-of-pipeline gate + span-cut re-score) and consumes ONLY these
    columns; Catalyst prunes the unused feature columns at optimization
    anyway, but the full forest still costs py4j construction and
    analysis per build (~1 s/call).  ``keep_text`` as in
    quality_scores.  Stays all-Catalyst on purpose: the Arrow-kernel form
    of this subset measured ~1.5× slower (OPTIMIZATION_r18.md §1,
    "Negative half"; removed after 221c068)."""
    staged0 = docs.select(
        "doc_id",
        "text",
        # explode-of-1-array barrier: materialize the token array once
        # (see quality_scores' CollapseProject note)
        F.explode(F.array(tokens_col())).alias("toks"),
    )
    feats = staged0.select(
        "doc_id",
        *(["text"] if keep_text else []),
        F.length("text").cast("bigint").alias("n_chars"),
        F.size("toks").cast("bigint").alias("n_tokens"),
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("bigint").alias("n_alpha"),
        F.size(F.filter("toks", lambda x: x.isin(*ALL_STOPWORDS))).cast("bigint").alias("n_stop"),
    )
    return _with_quality(feats).select(
        "doc_id", *(["text"] if keep_text else []), "n_tokens", "quality"
    )


def _lang_score_sql(lang: str) -> str:
    words = list(STOPWORDS[lang])
    return f"CAST(len(list_filter(toks, x -> list_contains({words!r}, x))) AS BIGINT)"


# DSIR oracle CTE block for q82's dsir_en section (import is lazy-safe:
# dsir.py defers its own text imports to call time, so calling into it
# mid-module-body here cannot cycle)
from emulating_hadoop_with_mpi_spark.functions.dsir import dsir_oracle_ctes as _dsir_ctes  # noqa: E402

_DSIR_CTES = _dsir_ctes("lang = 'en'")


# Classifier oracle CTEs (q82's clf_quality section): re-derives the
# full-batch GD training loop + map-only scoring over the shared qfeat
# feature relation (import is lazy-safe: classifier.py imports nothing
# from text.py at module scope).
from emulating_hadoop_with_mpi_spark.functions.classifier import (  # noqa: E402
    CLF_QUALITY_GATE as _CLF_GATE,
    logreg_oracle_ctes as _clf_ctes,
)

_CLF_CTES = _clf_ctes(
    feats_cte="qfeat",
    label_sql=f"CASE WHEN quality >= {_CLF_GATE} THEN 1.0 ELSE 0.0 END",
    feature_sqls=[
        "1.0",
        "alpha_ratio",
        "stopword_ratio",
        "CASE WHEN n_tokens >= 20 THEN 1.0 ELSE 0.0 END",
        "max_word_frac",
        "dup_trigram_frac",
    ],
)

# Bigram-LM cross-entropy oracle CTEs (q82's lm_xent section — the
# CCNet-style perplexity selection signal, functions/lm.py)
from emulating_hadoop_with_mpi_spark.functions.lm import lm_oracle_ctes as _lm_ctes  # noqa: E402

_LM_CTES = _lm_ctes()

# Data-mixture rate CTEs (q82's mix_keep section — functions/sampling.py
# mixture_rates' integer arithmetic re-derived over the same per-language
# n_chars masses the Spark side aggregates).
_MIX_CTES = _mixture_oracle_ctes(
    "SELECT lang AS stratum, CAST(n_chars AS BIGINT) AS w FROM documents",
    MIX_WEIGHTS,
)


@query(
    "q82_lang_id",
    oracle=f"""
    WITH {_DSIR_CTES},
    {_QFEAT_CTES},
    {_CLF_CTES},
    {_LM_CTES},
    {_MIX_CTES},
    bpe_sc AS (
        SELECT doc_id,
               CAST(CASE WHEN length(wd) <= 2 THEN 0
                    ELSE len(string_split(substring(wd, 2, length(wd) - 2),
                                          e'\\x1F\\x1F')) END AS INT) AS n_bpe_enc
        FROM (SELECT doc_id, {_bpe_enc_oracle_expr("toks")} AS wd FROM tok)
    ),
    scored AS (
        SELECT doc_id, lang AS lang_label,
               {_lang_score_sql("en")} AS s_en,
               {_lang_score_sql("es")} AS s_es,
               {_lang_score_sql("de")} AS s_de,
               {_lang_score_sql("fr")} AS s_fr
        FROM (SELECT doc_id, lang, {_SQL_TOKENS} AS toks FROM documents)
    )
    SELECT scored.doc_id, lang_label, s_en, s_es, s_de, s_fr,
           CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
                WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS lang_pred,
           COALESCE(dsir_sc.dsir, 0.0) AS dsir_en,
           clf_sc.clf_quality AS clf_quality,
           COALESCE(lm_sc.lm_xent, 0.0) AS lm_xent,
           bpe_sc.n_bpe_enc AS n_bpe_enc,
           {_stratified_keep_oracle_case("scored.doc_id", "lang_label", Q82_SAMPLE_FRACTIONS)} AS sample_keep,
           ({_split_bucket_oracle_sql("scored.doc_id", MIX_SALT)}
                < COALESCE(mix_rate.rate_bp, 0)) AS mix_keep
    FROM scored
    LEFT JOIN dsir_sc ON dsir_sc.doc_id = scored.doc_id
    JOIN clf_sc ON clf_sc.doc_id = scored.doc_id
    LEFT JOIN lm_sc ON lm_sc.doc_id = scored.doc_id
    JOIN bpe_sc ON bpe_sc.doc_id = scored.doc_id
    LEFT JOIN mix_rate ON mix_rate.stratum = scored.lang_label
    ORDER BY scored.doc_id
    """,
)
def q82_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language stopword hit counts, argmax with
    a fixed priority order (en > es > de > fr), 'und' when nothing hits.

    ``sample_keep`` (round 12, VERDICT r11 item 3's second half): the
    layout-independent stratified-sampling decision — keep 50% of the
    dominant 'en' stratum, everything else (``stratified_keep``,
    functions/sampling.py) — rides the same map-only projection; the
    oracle re-derives the md5 bucket per row, so the driver hash covers
    the corpus-rebalancing SELECTION itself.

    Since round 10 this also carries ``dsir_en`` — the DSIR importance
    score (functions/dsir.py) of every document against the lang='en'
    subset as the target corpus: the distribution-resemblance sibling of
    the stopword scores, hash-checked through the md5-bucket DuckDB
    re-derivation.  English docs score high, zh/fr/de/es docs negative —
    the data-selection signal a pretraining pipeline thresholds on.

    ``clf_quality`` (round 10) is the third selection-signal family: a
    logistic classifier TRAINED inside the query by distributed
    full-batch gradient descent (functions/classifier.py) over the
    shared quality features, scored map-only with the learned weights as
    plan literals.  The driver oracle replays the entire 16-iteration
    training loop in chained DuckDB CTEs, so the hash check covers the
    training arithmetic itself, not just the final projection.

    ``lm_xent`` (round 10) is the fourth: per-doc cross-entropy under
    an add-one bigram LM trained on the corpus (functions/lm.py — the
    CCNet-style perplexity filter).  Docs with < 2 tokens have no
    bigrams and coalesce to 0.0.

    ``n_bpe_enc`` (round 11, VERDICT r10 missing-item 2) is the fifth:
    the document's token count under the FIXED BPE_SECTION_MERGES
    tokenizer — ``bpe_encode``'s map-only nested-replace chain
    (functions/bpe.py), i.e. the fertility signal a pipeline budgets
    sequences with.  Encoding with a frozen merge list is
    SQL-expressible (the oracle replays the same replace chain over the
    ␟-wrapped symbol string), so the scoring half of BPE rides the
    driver-checked surface even though the iterative trainer cannot.

    ``mix_keep`` (round 13 continuation) is the seventh: data-mixture
    resampling (functions/sampling.mixture_rates — the Pile/DoReMi-style
    "reweight domains to target proportions" op).  The per-language keep
    rates are DERIVED FROM THE DATA (integer-exact arithmetic over
    per-language character masses — the pruned n_chars column, zero text
    reads — MIX_WEIGHTS = 2:1:1:1:1 en:es:de:fr:zh by characters) and
    applied through the md5 bucket, so the DuckDB oracle
    re-derives both the RATES and each row's keep decision — the hash
    covers the mixture math itself, not just the selection."""
    from emulating_hadoop_with_mpi_spark.functions.bpe import (
        bpe_count_col,
        bpe_wrapped_doc_col,
    )
    from emulating_hadoop_with_mpi_spark.functions.classifier import quality_clf_scores
    from emulating_hadoop_with_mpi_spark.functions.dsir import dsir_scores
    from emulating_hadoop_with_mpi_spark.functions.lm import bigram_lm_xent

    docs = load_table(spark, sf_dir, "documents")
    # ONE projection carries every map-only signal (VERDICT r11 item 5):
    # the stopword scores AND the fixed-tokenizer BPE count ride the same
    # scan — r11 built n_bpe_enc as a separate frame joined back on
    # doc_id, a whole extra corpus scan + join for a map-only column.
    staged = docs.select(
        "doc_id", "lang", tokens_col().alias("toks"),
        bpe_wrapped_doc_col(BPE_SECTION_MERGES).alias("__wd"),
    )

    def score(lang: str) -> Column:
        return (
            F.size(F.filter("toks", lambda x: x.isin(*STOPWORDS[lang])))
            .cast("bigint")
        )

    scored = staged.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        score("en").alias("s_en"),
        score("es").alias("s_es"),
        score("de").alias("s_de"),
        score("fr").alias("s_fr"),
        bpe_count_col(F.col("__wd")).alias("n_bpe_enc"),
        _stratified_keep(
            "doc_id", "lang", Q82_SAMPLE_FRACTIONS
        ).alias("sample_keep"),
    )
    # Data-mixture rates (seventh signal, round 13 continuation): ONE
    # eager per-language mass aggregate over (lang, n_chars) — two pruned
    # columns, zero text reads, |strata| rows to the driver (the bounded
    # classifier/CC collect class) — then the rates ride as plan
    # literals in a map-only CASE: the thinning a 2:1:1:1:1 by-character
    # mixture implies, integer-exact in any engine, no broadcast join.
    mix_rates = _mixture_rate_values(
        docs.select("lang", F.col("n_chars").cast("long").alias("w")),
        "lang",
        "w",
        MIX_WEIGHTS,
    )
    s_en, s_es, s_de, s_fr = (F.col(c) for c in ("s_en", "s_es", "s_de", "s_fr"))
    pred = (
        F.when((s_en == 0) & (s_es == 0) & (s_de == 0) & (s_fr == 0), "und")
        .when((s_en >= s_es) & (s_en >= s_de) & (s_en >= s_fr), "en")
        .when((s_es >= s_de) & (s_es >= s_fr), "es")
        .when(s_de >= s_fr, "de")
        .otherwise("fr")
    )
    # persist=True on the two profile-based signals (round 12): without
    # it each signal's stats/score chains recompute their token-stream
    # profile from the raw text — NINE corpus scans in the final plan
    # (measured).  With the per-doc profiles pinned, the corpus text is
    # read three times total: this staged projection, the DSIR bucket
    # profile, and the LM bigram profile (clf reads its feature frame
    # from the cache its own training materialized).  A/B at sf0.1 was
    # wall-clock neutral; at scale the profiles are far smaller than the
    # token stream they summarize and spill gracefully (NOTES r12).
    sc = dsir_scores(
        docs.select("doc_id", "lang", "text"),
        is_target=F.col("lang") == "en",
        persist=True,
    )
    clf = quality_clf_scores(quality_scores(docs.select("doc_id", "text")))
    lm = bigram_lm_xent(docs.select("doc_id", "text"), persist=True)
    # No trailing sort (the q70 r10 precedent): the result is one row per
    # document — corpus-scale — and both the late orderBy AND the former
    # pre-sorted-input trick were presentation only; the driver's hash
    # compare is order-insensitive (the oracle keeps its ORDER BY for
    # readability).
    return (
        scored.withColumn("lang_pred", pred)
        .join(sc, "doc_id", "left")
        .withColumn("dsir_en", F.coalesce(F.col("dsir"), F.lit(0.0)))
        .drop("dsir")
        .join(clf, "doc_id")
        .join(lm, "doc_id", "left")
        .withColumn("lm_xent", F.coalesce(F.col("lm_xent"), F.lit(0.0)))
        .withColumn(
            "mix_keep",
            _mixture_keep_case("doc_id", "lang_label", mix_rates, salt=MIX_SALT),
        )
        .select(
            "doc_id", "lang_label", "s_en", "s_es", "s_de", "s_fr",
            "lang_pred", "dsir_en", "clf_quality", "lm_xent", "n_bpe_enc",
            "sample_keep", "mix_keep",
        )
    )


@query(
    "q83_fingerprint",
    oracle=f"""
    SELECT doc_id,
           CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(
                       list_filter(string_split(substring(text, 1, {FINGERPRINT_PREFIX}), ''),
                                   c -> c != ''),
                       c -> CAST(ascii(c) AS BIGINT))),
               (acc, c) -> (acc * 31 + c) % {FP_MOD}) AS BIGINT) AS fingerprint,
           CAST(length(text) AS INT) AS n_chars
    FROM documents
    ORDER BY doc_id
    """,
)
def q83_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: polynomial rolling hash (base 31, mod 2³¹-1)
    over the first 256 chars — computed as a fold over code points with
    F.aggregate, entirely JVM-side.  Identical arithmetic in the oracle via
    list_reduce, so the hashes match bit-for-bit across engines."""
    # pre-sorted narrow input (see q81's note on the double-execute sort)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").orderBy("doc_id")
    chars = F.filter(
        F.split(F.substring("text", 1, FINGERPRINT_PREFIX), ""), lambda c: c != ""
    )
    codes = F.transform(chars, lambda c: F.ascii(c).cast("bigint"))
    fp = F.aggregate(
        codes, F.lit(0).cast("bigint"), lambda acc, c: (acc * 31 + c) % FP_MOD
    )
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.length("text").cast("int").alias("n_chars"),
    )


# BM25 section of q84 (round 11): the fixed query set + k shared by the
# Spark side and the oracle.  The strings hit the synthetic corpus
# vocabulary, so the section is non-vacuous at every SF.
BM25_SECTION_QUERIES = ("spark hash join", "table scan fast", "window sort")
BM25_SECTION_K = 10


def _bm25_section_oracle() -> str:
    from emulating_hadoop_with_mpi_spark.functions.search import bm25_oracle_sql

    qlist = ", ".join(f"'{q}'" for q in BM25_SECTION_QUERIES)
    return f"""
        SELECT 'bm25' AS method, doc_id,
               ([{qlist}])[query_id + 1] AS term,
               CAST(NULL AS BIGINT) AS tf, CAST(NULL AS BIGINT) AS df,
               score, rank AS rnk
        FROM ({bm25_oracle_sql(list(BM25_SECTION_QUERIES), k=BM25_SECTION_K)})
    """


@query(
    "q84_tfidf_top_terms",
    oracle=f"""
    SELECT method, doc_id, term, tf, df, score, rnk FROM (
        SELECT 'tfidf' AS method, doc_id, term, tf, df, score, rnk FROM (
            WITH tok AS (
                SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
            ),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
            df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
            n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE len({_SQL_TOKENS}) > 0),
            scored AS (
                SELECT doc_id, term, tf, df,
                       ROUND(CAST(tf * n_docs AS DOUBLE) / df, 6) AS score
                FROM tf JOIN df USING (term), n
            )
            SELECT doc_id, term, tf, df, score, CAST(rnk AS INT) AS rnk FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                             ORDER BY score DESC, term) AS rnk
                FROM scored
            ) WHERE rnk <= 5
        )
        UNION ALL
        {_bm25_section_oracle()}
    ) ORDER BY method, doc_id, rnk
    """,
)
def q84_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text-scoring, method-tagged (the q70/q74 union convention):

    - 'tfidf': TF-IDF top-5 terms per document with a LINEAR idf
      (tf·N/df) — the score stays a single division of exact integers,
      so the ranking is bit-identical across engines (log-based idf
      differs in the last ulp between libm implementations — linear idf
      ranks identically for a fixed corpus).  Plan shape (round 12,
      VERDICT r11 item 1): ONE logical (doc_id, term, tf, dl) posting
      frame shared by BOTH sections — df, the corpus sizes, and bm25's
      candidates are reductions of it.  Above the corpus boundary the
      frame is persisted, so the text is scanned-and-tokenized exactly
      once per run (pinned in tests/test_plans.py with the boundary
      forced); below it consumers recompute — measured faster at toy
      scale (NOTES r12, the persist A/B).  The df
      table is O(vocabulary): it broadcasts below the corpus-size
      boundary (wins single-node) and pins shuffle_hash above it — df
      is already hash-partitioned by term from its own groupBy, and
      broadcasting a 100 TB corpus' vocabulary to every executor is the
      same stats-class failure as the dedup verify joins
      (plans/inspect.plan_size_bytes dispatch).
    - 'bm25' (round 11, VERDICT r10 item 7): Okapi BM25 top-10 docs per
      query for the fixed BM25_SECTION_QUERIES set — ``bm25_topk``
      (functions/search.py), TF-IDF's query-time sibling, promoted from
      parity-test-only onto the driver-checked surface.  Its columns
      map onto the shared schema as (term = the query string,
      tf/df = NULL, rnk = the per-query rank); the oracle embeds
      ``bm25_oracle_sql`` — the same DuckDB twin the local parity test
      pins at sf0.001/sf0.01."""
    from emulating_hadoop_with_mpi_spark.functions.search import bm25_topk
    from emulating_hadoop_with_mpi_spark.plans.inspect import plan_size_bytes

    docs = load_table(spark, sf_dir, "documents")
    # ONE logical posting frame for the whole query (VERDICT r11 item 1):
    # both sections derive from this corpus-wide (doc_id, term, tf, dl)
    # frame — df, the corpus sizes, and bm25's candidates are all
    # reductions of it, where the r11 plan tokenized three times (tf, df,
    # and bm25's own postings + stats).  Whether it is also ONE PHYSICAL
    # pass is size-dispatched (the sim64/CC regime idiom): above the
    # corpus boundary the frame is persist()ed, so the text is scanned
    # and tokenized exactly once (pinned in tests/test_plans.py with the
    # boundary forced); below it the consumers recompute — MEASURED
    # (NOTES r12): Catalyst prunes each consumer to a specialized
    # subplan (no exchange reuse), those passes pipeline across idle
    # cores at toy scale, and an unconditional persist cost +1.2 s of
    # cache-build serialization at sf0.1 — slower than the r11 plan it
    # was meant to fix.  The persisted frame stays resident for the
    # session (the q70 spans= contract: the union is lazy, so this
    # builder cannot unpersist what the driver hasn't read; the bench
    # clearCache()s per entry).
    from emulating_hadoop_with_mpi_spark.functions.search import corpus_postings

    postings = corpus_postings(docs)
    size = plan_size_bytes(docs)
    small = size is not None and size <= TFIDF_PARTITIONED_BYTES
    if not small:
        postings = postings.persist()
    # df is a FREE reduction of the posting frame: one row per (doc,
    # term) means COUNT(*) per term == COUNT(DISTINCT doc_id) over the
    # token stream — no second corpus-wide countDistinct aggregation.
    df = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    df_side = F.broadcast(df) if small else df.hint("shuffle_hash")
    # Lazy corpus size: docs with >= 1 token have >= 1 posting row, so
    # the tfidf N is a 1-row countDistinct aggregate over the (cached)
    # posting frame — no extra corpus pass, broadcast into the join.
    n_docs = postings.agg(F.countDistinct("doc_id").alias("__n_docs"))
    scored = (
        postings.select("doc_id", "term", "tf")
        .join(df_side, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                (F.col("tf") * F.col("__n_docs")).cast("double") / F.col("df"), 6
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    tfidf_rows = (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select(
            F.lit("tfidf").alias("method"),
            "doc_id", "term", "tf", "df", "score", "rnk",
        )
    )
    qarr = F.array(*[F.lit(q) for q in BM25_SECTION_QUERIES])
    bm25_rows = bm25_topk(
        docs, list(BM25_SECTION_QUERIES), k=BM25_SECTION_K, postings=postings
    ).select(
        F.lit("bm25").alias("method"),
        "doc_id",
        F.element_at(qarr, F.col("query_id") + 1).alias("term"),
        F.lit(None).cast("long").alias("tf"),
        F.lit(None).cast("long").alias("df"),
        "score",
        F.col("rank").alias("rnk"),
    )
    # No trailing global sort (the q70 r10 precedent): the result is
    # ~5 rows per document — corpus-scale — and a range-partitioned
    # total order over it is presentation only.  The driver's hash
    # compare is order-insensitive (the oracle keeps its ORDER BY for
    # readability).
    return tfidf_rows.unionByName(bm25_rows)


# ---------------------------------------------------------------------------
# Training-batch assembly ops: context-window chunking and sequence packing.
# Both are pure JVM expressions / window functions — no Python in the scan —
# because they run over the ENTIRE corpus in a real pipeline.  Driver-visible
# as q85/q86 (registered below, inside the 50-query cap after the round-3
# q19+q24 / q27+q28 consolidations — NOTES.md).
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame, window: int = 64, stride: int = 48
) -> DataFrame:
    """Context-window chunking: split each document's token sequence into
    overlapping windows of `window` tokens advancing by `stride` (the
    standard LLM pre-training chunker).  One row in → ceil((n-window)/stride)+1
    rows out via sequence + transform + explode — all codegen, no shuffle;
    short documents yield their single (shorter) chunk.

    Output: (doc_id, chunk_idx, n_tokens, chunk_text).
    """
    if stride <= 0 or window <= 0:
        raise ValueError(f"window and stride must be positive (got {window}, {stride})")
    toks = F.col("toks")
    n = F.size(toks)
    # Start positions 1, 1+stride, 2·stride+1, … continuing until a window
    # reaches the document end — FULL token coverage (the final chunk may be
    # shorter than `window`), and no chunk is wholly contained in the
    # previous one.  n_chunks = 1 + ceil(max(n-window, 0) / stride).
    n_chunks = F.lit(1) + F.greatest(
        F.ceil((n - F.lit(window)).cast("double") / F.lit(stride)).cast("int"), F.lit(0)
    )
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1), lambda i: i * F.lit(stride) + 1
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.slice(toks, s, window).alias("chunk_toks"),
        ),
    )
    staged = docs.select("doc_id", tokens_col().alias("toks")).filter(n > 0)
    return (
        staged.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.size("c.chunk_toks").cast("int").alias("n_tokens"),
            F.concat_ws(" ", F.col("c.chunk_toks")).alias("chunk_text"),
        )
    )


PACK_NUM_RANGES = 1024  # prefix-sum range partitions (count-balanced)

# Bounded plan-keyed registry for pack_sequences' per-doc token counts
# (functions/framecache.py; capacity 2 = the grouped + ungrouped pair a
# pipeline might interleave) — a resident process packing many corpora
# must not accumulate a counts cache per call.
from emulating_hadoop_with_mpi_spark.functions.framecache import (  # noqa: E402
    PlanKeyedFrameCache as _PlanKeyedFrameCache,
)

_PACK_CACHE = _PlanKeyedFrameCache(capacity=2)

# Same registry class for q85's shared quality-score projection (one
# compact frame per corpus; capacity 2 covers an interleaved SF pair).
_QSCORE_CACHE = _PlanKeyedFrameCache(capacity=2)


def pack_sequences(
    docs: DataFrame, budget: int = 256, group_col: str | None = None
) -> DataFrame:
    """Greedy-by-order sequence packing: assign documents to fixed-token
    training bins of capacity `budget` without splitting documents.
    bin = index of the budget block where the doc's global running token
    total ENDS, so a doc that would straddle a boundary opens the next bin
    and any doc larger than the budget occupies its bin(s) alone.

    Scalable shape — a DISTRIBUTED prefix sum, not a global window (a bare
    ``Window.orderBy`` would move the whole corpus to one partition):

    1. range boundaries: ``approx_percentile(doc_id)`` at
       ``PACK_NUM_RANGES`` evenly-spaced probabilities — one tiny agg.
       Count-balanced BY CONSTRUCTION, so sparse id spaces (ids · 1e6)
       and skewed ones (90% of ids in one narrow band) both split into
       ~equal ranges, where the former ``doc_id div SPAN`` keying
       degenerated (one doc per range, or one range with 90% of the
       corpus).  The packing OUTPUT is invariant to boundary placement —
       any contiguous-in-order range partition yields the same global
       prefix sum — so approximate (even run-varying) percentiles can
       never change a bin assignment, only task balance.
    2. per-range running totals: window partitioned by the range id
       (= how many broadcast boundaries lie below doc_id) — parallel
       across ranges;
    3. per-range grand totals: one tiny aggregate (rows = ranges);
    4. range offsets: cumulative sum over that tiny table (single-partition
       window over PACK_NUM_RANGES rows — fixed-size, not data-scale);
    5. global running total = range offset + in-range running total,
       via a broadcast join of the offsets.

    Deterministic output, one data shuffle (the range hash),
    O(corpus/PACK_NUM_RANGES) rows per task (~1M docs/range at 1B docs;
    raise PACK_NUM_RANGES for larger corpora).  Exact greedy packing is inherently sequential (each
    bin boundary depends on the waste of every earlier bin); this
    end-aligned binning is its standard deterministic approximation, with
    a bounded overshoot: a bin whose FIRST document straddles the budget
    boundary holds up to ``budget + that_doc_len - 1`` tokens (the
    straddler counts fully toward the bin it ends in).  Consumers size
    ``budget`` with max-document headroom or truncate at load.

    Output: (doc_id, n_tokens, bin_id, bin_fill) where bin_fill is the
    running token count within the doc's bin.

    With ``group_col`` (e.g. a train/val/test split label) the whole
    scheme runs independently PER GROUP — every window/aggregate above
    gains the group as a leading partition key, so bins are group-pure by
    construction and bin_ids restart per group.  Same cost shape: the
    group key just rides along in the one data shuffle.
    """
    from pyspark.sql import Window

    g = [group_col] if group_col else []
    # persist: the boundary agg, the in-range window, and the range-total
    # agg each traverse these rows; without a materialization point the
    # tokenize pass (the dominant cost) would run once per traversal.
    # 16 bytes/doc — trivially cacheable at any corpus size.  Routed
    # through the bounded plan-keyed registry (round 14): identical
    # re-invocations reuse the warm counts, storage stays bounded across
    # arbitrarily many packing calls in one session.
    counted = _PACK_CACHE.lookup(
        docs.select(*g, "doc_id", F.size(tokens_col()).cast("long").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
    )
    probs = [i / PACK_NUM_RANGES for i in range(1, PACK_NUM_RANGES)]
    bounds = counted.agg(
        F.percentile_approx(
            "doc_id", F.array(*[F.lit(p) for p in probs]), 10000
        ).alias("bounds")
    )
    # range id = #boundaries strictly below doc_id: monotone in doc_id, so
    # ranges stay contiguous in packing order (the correctness requirement);
    # the boundaries only set where ranges split (the balance requirement).
    staged = counted.join(F.broadcast(bounds)).withColumn(
        "rng",
        F.size(F.filter("bounds", lambda b: b < F.col("doc_id"))).cast("long"),
    ).drop("bounds")
    w_in = Window.partitionBy(*g, "rng").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = staged.withColumn("cum_in", F.sum("n_tokens").over(w_in))
    range_totals = staged.groupBy(*g, "rng").agg(F.sum("n_tokens").alias("rng_total"))
    w_rng = Window.partitionBy(*g).orderBy("rng").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = range_totals.select(
        *g, "rng", F.coalesce(F.sum("rng_total").over(w_rng), F.lit(0)).alias("offset")
    )
    binned = local.join(F.broadcast(offsets), [*g, "rng"]).withColumn(
        "bin_id", F.expr(f"(offset + cum_in - 1) div {budget}")
    )
    wb = Window.partitionBy(*g, "bin_id").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return binned.withColumn("bin_fill", F.sum("n_tokens").over(wb)).select(
        *g, "doc_id", "n_tokens", "bin_id", "bin_fill"
    )


CHUNK_WINDOW = 64
CHUNK_STRIDE = 48
PACK_BUDGET = 256


# q85's 'decon' section (round 12, VERDICT r11 item 4): benchmark
# decontamination joins the driver-checked surface.  The "benchmark" is
# derived deterministically FROM the corpus — the first
# DECON_SECTION_PROMPT tokens of every DECON_SECTION_MOD-th document —
# so the overlap check is non-vacuous at every SF (at minimum the
# prompt-source docs flag themselves) and both engines rebuild the
# identical eval set with no fixture file.
DECON_SECTION_N = 8
DECON_SECTION_MOD = 23
DECON_SECTION_PROMPT = 12

# q85's 'bpe_merge' section (round 12): BPE TRAINING joins the
# driver-checked surface — the last parity-test-only operator (VERDICT
# r11 missing-item 3).  "Iterative data-dependent argmax is not one SQL
# statement" stops being a blocker once the iteration count is a small
# fixed constant: like q82's 16-iteration GD replay, the oracle replays
# each training round as a chained CTE (pair count → argmax under the
# pinned tie-break → one replace over every vocabulary word) and the
# section emits the LEARNED MERGES THEMSELVES as rows, so the driver
# hash pins the training output exactly.  min_pair_count=1 on both
# sides (the early-stop branch is not replayed; any non-degenerate
# corpus trains 4 rounds).
BPE_TRAIN_SECTION_K = 4


def _bpe_train_oracle_section(k: int = BPE_TRAIN_SECTION_K) -> str:
    """DuckDB replay of ``bpe_train(num_merges=k, batch_k=1,
    min_pair_count=1)`` over ``documents``: word-frequency table in
    wrapped-symbol form (functions/bpe.py's ␟-string layout), then k
    chained rounds of adjacent-pair count → argmax (n DESC, a ASC,
    b ASC — the trainer's pinned tie-break) → one boundary-safe
    replace() per word.  Emits (rank, 'a b') rows."""
    sep2 = "e'\\x1F\\x1F'"
    ctes = [
        f"""bpe_tw0 AS (
            SELECT e'\\x1F' || array_to_string(
                       list_append(string_split(w, ''), '</w>'), {sep2})
                   || e'\\x1F' AS wstr, cnt
            FROM (SELECT w, COUNT(*) AS cnt
                  FROM (SELECT unnest({_SQL_TOKENS}) AS w FROM documents)
                  GROUP BY w)
        )"""
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"""bpe_tp{i} AS (
            SELECT t.s[CAST(u.pos AS INT)] AS a,
                   t.s[CAST(u.pos AS INT) + 1] AS b, SUM(t.cnt) AS n
            FROM (SELECT cnt,
                         string_split(substring(wstr, 2, length(wstr) - 2), {sep2}) AS s
                  FROM bpe_tw{i - 1}) t
            CROSS JOIN LATERAL (
                SELECT unnest(generate_series(1, len(t.s) - 1)) AS pos) u
            GROUP BY 1, 2
        )"""
        )
        ctes.append(
            f"bpe_tm{i} AS (SELECT a, b FROM bpe_tp{i} "
            f"ORDER BY n DESC, a ASC, b ASC LIMIT 1)"
        )
        if i < k:
            ctes.append(
                f"""bpe_tw{i} AS (
                SELECT replace(wstr,
                               e'\\x1F' || m.a || {sep2} || m.b || e'\\x1F',
                               e'\\x1F' || m.a || m.b || e'\\x1F') AS wstr, cnt
                FROM bpe_tw{i - 1}, bpe_tm{i} m
            )"""
            )
    union = " UNION ALL ".join(
        f"SELECT {i} AS r, a, b FROM bpe_tm{i}" for i in range(1, k + 1)
    )
    joined = ",\n    ".join(ctes)
    return f"""
    SELECT 'bpe_merge' AS method, CAST(r AS BIGINT) AS doc_id,
           CAST(NULL AS INT) AS chunk_idx, CAST(NULL AS INT) AS n_tokens,
           a || ' ' || b AS chunk_text
    FROM ( WITH {joined}
           {union} )
    """


def _sql_ngram_concat(n: int) -> str:
    """DuckDB n-gram concat over ``toks`` at 1-based position ``pos``."""
    return " || ' ' || ".join(
        f"toks[CAST(pos AS INT) + {i}]" for i in range(n)
    )


_DECON_SECTION_ORACLE = f"""
    SELECT 'decon' AS method, doc_id,
           CAST(NULL AS INT) AS chunk_idx,
           CAST(n_hits AS INT) AS n_tokens,
           CAST(NULL AS VARCHAR) AS chunk_text
    FROM (
        WITH tok8 AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
        corpus_sh AS (
            SELECT DISTINCT doc_id, {_sql_ngram_concat(DECON_SECTION_N)} AS shingle
            FROM (SELECT doc_id, toks,
                         unnest(generate_series(1, len(toks) - {DECON_SECTION_N - 1})) AS pos
                  FROM tok8)
        ),
        bench_sh AS (
            SELECT DISTINCT {_sql_ngram_concat(DECON_SECTION_N)} AS shingle
            FROM (SELECT toks,
                         unnest(generate_series(1, len(toks) - {DECON_SECTION_N - 1})) AS pos
                  FROM (SELECT array_slice(toks, 1, {DECON_SECTION_PROMPT}) AS toks
                        FROM tok8 WHERE doc_id % {DECON_SECTION_MOD} = 0))
        )
        SELECT doc_id, COUNT(*) AS n_hits
        FROM corpus_sh JOIN bench_sh USING (shingle)
        GROUP BY doc_id
    )
"""


# q85's 'curate' section (round 13, VERDICT r12 item 4): the curation
# pipeline COMPOSITION (functions/pipeline.curate_corpus) under the
# driver hash.  Fixed config: quality gate at CURATE_MIN_QUALITY →
# benchmark decontamination (the DECON_SECTION_* derived eval set) →
# exact dedup → window/stride chunking → leakage-safe split →
# per-split sequence packing.  The section emits per-stage survivor
# counts (stage order / survivor flow — the interaction pytest alone
# covered until now) plus per-split chunk/bin aggregates of the ACTUAL
# curate_corpus output, including SUM(DISTINCT doc_id) and SUM(bin_id)
# membership checksums, so a winner-rule, split-assignment, or packing
# change flips the hash even when counts collide.  The oracle replays
# the whole composition as one chained-CTE pipeline — each stage's CTE
# is the q81/q85-decon/q70/q85-chunk/q86 oracle formulation, chained in
# curate_corpus's documented stage order.
#
# Round 13 continuation: the section's stage counts aggregate the SAME
# frames the final table is built from (pipeline.curate_frames) instead
# of replaying the stage chain a second time.
#
# Round 14 (VERDICT r13 item 2): the config now INCLUDES the
# mixture/token-budget stages — quality → decon → dedup → mixture →
# budget → chunk → split → pack, the full selection chain under one
# hash.  The r13 job-count blowup (~130 sequential tiny jobs, +25 s at
# sf0.1) is gone structurally: n_tokens/quality ride the survivor
# frames from the single top-of-pipeline scoring pass (the budget stage
# is a zero-join projection of the persisted survivor frame — no second
# feature pass, no score-frame join or broadcast), and curate_frames
# persists the post-decon anchor before its eager actions fire, so the
# decontamination shingle join executes once for the rate aggregate,
# the prefix-sum bounds, AND the audit counts.
CURATE_MIN_QUALITY = 0.2
CURATE_MIXTURE = {"en": 2, "es": 1, "de": 1, "fr": 1, "zh": 1}
CURATE_MIX_SALT = "curate"
# Round 15 (VERDICT r14 top_next): the config now also includes span
# cutting (CURATE_SPAN_N-token corpus-duplicated spans cut keep-first
# after exact dedup — probed non-vacuous at every SF: 41-405 survivor
# docs carry duplicated 20-token spans), DSIR selection (keep the
# exact top-⌈CURATE_DSIR_KEEP·N⌉ against the lang='en' target), and
# LM-perplexity selection (keep the exact lowest-xent
# ⌈CURATE_LM_KEEP·N⌉ under the survivor-corpus bigram LM).  Both
# selections were probed before wiring: every mixture stratum keeps
# healthy mass through DSIR@0.5 then LM@0.5 at sf0.001-sf1 (min 8 docs
# per stratum), so the strict mixture validation cannot trip.  The
# token budget drops 12_288 → 1_024: the added selection stages shrink
# the post-mixture corpus (probed 1 550 / 2 041 tokens at
# sf0.001/sf0.01), and a non-BINDING budget is a vacuous hash check —
# a selection that selects everything pins nothing.
CURATE_SPAN_N = 20
CURATE_DSIR_KEEP = 0.5
CURATE_LM_KEEP = 0.5
CURATE_TOKEN_BUDGET = 1_024

# Round 16 (VERDICT r15 item 4): the composition now ENDS with PII
# redaction (the RE2-expressible chain, so the oracle replays it), and
# the q80 canary idea scales up to the whole pipeline: the synthetic
# corpus carries no PII, so without planted input rows a redact stage
# in the composition would rewrite nothing and hash vacuously.  These
# three literal documents are UNIONED INTO THE INPUT (not the result —
# unlike q80's output-side canary they must SURVIVE every selection
# stage so the redact stage has PII to rewrite).  Their construction is
# pinned by tests/test_curation_pipeline.py and was probed at sf0.001
# AND sf0.01 before wiring (the r15 protocol):
# - doc_ids are negative (no corpus collision), not ≡ 0 mod
#   DECON_SECTION_MOD (identical benchmark-set membership under Spark's
#   pmod and the oracle's C-style %), with md5 mixture buckets 57/352/
#   429 — far under the ~1900-2100 bp 'en' keep rates at both SFs;
# - quality 0.73-0.76 beats the corpus-wide post-cut max (~0.668), so
#   the token-budget stage (quality DESC, doc_id) admits them first and
#   the budget still BINDS (planted ~100 tokens ≪ 1024 ≪ survivor mass);
# - each doc is a run of ONE non-corpus stopword broken by doc-unique
#   corpus separators: the repeated bigrams are self-trained into the
#   corpus LM/DSIR profiles (the planted docs are part of the training
#   corpus), pushing lm_xent far below and dsir far above their keep
#   medians at every SF — and no 20-token window repeats corpus-wide,
#   so span cutting leaves the texts intact;
# - the PII cluster sits at the tail: one email, one card, one SSN per
#   doc; the two GROUPED cards collapse 4 tokens → 1 <CARD> tag under
#   redaction, so the rewrite provably moves the chunk/bin token sums
#   (disabling redact flips the hash), and stage:redact pins the
#   rewrite counts directly.
PLANTED_PII_DOCS: list[tuple[int, str, str]] = [
    (
        -143,
        "nicht nicht nicht nicht nicht scan nicht nicht nicht nicht "
        "nicht merge nicht nicht nicht nicht nicht sort nicht nicht "
        "nicht nicht nicht the nicht nicht mail jane.doe@example.com "
        "card 4111 1111 1111 1111 ssn 123-45-6789",
        "en",
    ),
    (
        -71,
        "pour pour pour pour pour join pour pour pour pour pour order "
        "pour pour pour pour pour filter pour pour pour pour pour the "
        "pour pour mail sam.lee@mail.net card 5500 0000 0000 0004 "
        "ssn 321-54-9876",
        "en",
    ),
    (
        -42,
        "dans dans dans dans dans hash dans dans dans dans dans group "
        "dans dans dans dans dans table dans dans dans dans dans the "
        "dans dans mail ana.ruiz@example.org card 340000000000009 "
        "ssn 456-78-9012",
        "en",
    ),
]


def _planted_pii_values_sql() -> str:
    """VALUES relation of PLANTED_PII_DOCS for the curate oracle (texts
    are quote-free by construction)."""
    assert all("'" not in t for _, t, _ in PLANTED_PII_DOCS)
    rows = ", ".join(f"({i}, '{t}', '{l}')" for i, t, l in PLANTED_PII_DOCS)
    return f"SELECT * FROM (VALUES {rows}) AS planted(doc_id, text, lang)"


def _curate_section_oracle() -> str:
    win, stride, budget = CHUNK_WINDOW, CHUNK_STRIDE, PACK_BUDGET
    n = DECON_SECTION_N
    span = CURATE_SPAN_N
    kf_bp = int(round(CURATE_DSIR_KEEP * 10_000))
    lm_bp = int(round(CURATE_LM_KEEP * 10_000))
    # The span-cut/DSIR/re-score chain references its upstream CTEs many
    # times; the AS MATERIALIZED hints below are what keep DuckDB 1.0
    # (which inlines CTEs per reference) from re-expanding the whole
    # pipeline multiplicatively — measured >120 s → 0.8 s at sf0.001.
    rqfeat = _qfeat_ctes_from(
        "SELECT doc_id, text, toks FROM cspancut", prefix="rq", materialize=True
    )
    cdsir = _dsir_ctes(
        "",
        prefix="cdsir",
        source_sql=(
            "SELECT c.doc_id, (d.lang = 'en') AS is_target, c.toks "
            "FROM cspancut c JOIN cdocs d USING (doc_id)"
        ),
        materialize=True,
    )
    clm = _lm_ctes(
        source_sql="SELECT doc_id, toks FROM cds",
        prefix="clm",
        materialize=True,
    )
    # the input is the documents table AUGMENTED with the planted
    # PII-bearing docs (PLANTED_PII_DOCS above) — the whole qfeat/decon/
    # dedup/selection chain runs over cdocs so the planted docs flow to
    # the redact stage in both engines identically
    cqfeat = _qfeat_ctes_from(
        f"SELECT doc_id, text, {_SQL_TOKENS} AS toks FROM cdocs"
    )
    return f"""
    SELECT 'curate' AS method, doc_id, chunk_idx, n_tokens, chunk_text FROM (
        WITH cdocs AS (
            SELECT doc_id, text, lang FROM documents
            UNION ALL {_planted_pii_values_sql()}
        ),
        {cqfeat},
        ckept AS MATERIALIZED (
            SELECT t.doc_id, t.text, t.toks
            FROM tok t JOIN qfeat q ON q.doc_id = t.doc_id
            WHERE q.quality >= {CURATE_MIN_QUALITY}
        ),
        cbench_sh AS (
            SELECT DISTINCT {_sql_ngram_concat(n)} AS shingle
            FROM (SELECT toks,
                         unnest(generate_series(1, len(toks) - {n - 1})) AS pos
                  FROM (SELECT array_slice(toks, 1, {DECON_SECTION_PROMPT}) AS toks
                        FROM tok WHERE doc_id % {DECON_SECTION_MOD} = 0))
        ),
        ccorpus_sh AS (
            SELECT DISTINCT doc_id, {_sql_ngram_concat(n)} AS shingle
            FROM (SELECT doc_id, toks,
                         unnest(generate_series(1, len(toks) - {n - 1})) AS pos
                  FROM ckept)
        ),
        cflag AS (
            SELECT DISTINCT doc_id FROM ccorpus_sh JOIN cbench_sh USING (shingle)
        ),
        cdk AS (
            SELECT * FROM ckept
            WHERE doc_id NOT IN (SELECT doc_id FROM cflag)
        ),
        cwin AS (SELECT text, MIN(doc_id) AS doc_id FROM cdk GROUP BY text),
        cuniq AS MATERIALIZED (
            SELECT w.doc_id, k.text, k.toks
            FROM cwin w JOIN cdk k ON k.doc_id = w.doc_id
        ),
        -- span cutting over the post-dedup survivors (the Spark side's
        -- remove_duplicate_spans on the same slot): every {span}-token
        -- window occurring >= 2 times corpus-wide is cut keep-first
        -- (rank 1 by (doc_id, pos) per span survives); a token goes iff
        -- covered by a flagged start's [pos, pos + {span}) interval.
        csp AS MATERIALIZED (
            SELECT doc_id, pos,
                   array_to_string(
                       toks[CAST(pos AS INT):CAST(pos + {span - 1} AS INT)], ' '
                   ) AS span
            FROM (SELECT doc_id, toks,
                         unnest(generate_series(1, len(toks) - {span - 1})) AS pos
                  FROM cuniq)
        ),
        cdup AS (SELECT span FROM csp GROUP BY span HAVING COUNT(*) >= 2),
        cocc AS MATERIALIZED (
            SELECT csp.doc_id, csp.pos,
                   ROW_NUMBER() OVER (PARTITION BY csp.span
                                      ORDER BY csp.doc_id, csp.pos) AS rk
            FROM csp JOIN cdup USING (span)
        ),
        ccutpos AS (
            SELECT DISTINCT doc_id, pos + ofs AS i
            FROM (SELECT doc_id, pos FROM cocc WHERE rk > 1), range(0, {span}) r(ofs)
        ),
        chascut AS (SELECT DISTINCT doc_id FROM cocc WHERE rk > 1),
        -- rebuild: kept positions of the CASE-PRESERVED raw tokens give
        -- the cut text (single-space joined); kept positions of the
        -- lowercased toks give its token array (positions align — the
        -- same invariant remove_duplicate_spans documents).  Docs
        -- without cuts keep their ORIGINAL text byte-for-byte.
        craw AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x != '') AS rawtoks
            FROM cuniq
        ),
        ckeeppos AS (
            SELECT e.doc_id, e.i
            FROM (SELECT u.doc_id, s.i
                  FROM cuniq u CROSS JOIN LATERAL (
                      SELECT unnest(generate_series(1, len(u.toks))) AS i) s) e
            LEFT JOIN ccutpos c ON c.doc_id = e.doc_id AND c.i = e.i
            WHERE c.i IS NULL
        ),
        ccutdoc AS (
            SELECT k.doc_id,
                   list(u.toks[CAST(k.i AS INT)] ORDER BY k.i) AS toks,
                   array_to_string(
                       list(r.rawtoks[CAST(k.i AS INT)] ORDER BY k.i), ' '
                   ) AS text
            FROM ckeeppos k
            JOIN cuniq u ON u.doc_id = k.doc_id
            JOIN craw r ON r.doc_id = k.doc_id
            GROUP BY k.doc_id
        ),
        cspancut AS MATERIALIZED (
            SELECT u.doc_id,
                   CASE WHEN h.doc_id IS NOT NULL
                        THEN COALESCE(d.text, '') ELSE u.text END AS text,
                   CASE WHEN h.doc_id IS NOT NULL
                        THEN COALESCE(d.toks, CAST([] AS VARCHAR[]))
                        ELSE u.toks END AS toks
            FROM cuniq u
            LEFT JOIN chascut h ON h.doc_id = u.doc_id
            LEFT JOIN ccutdoc d ON d.doc_id = u.doc_id
        ),
        -- re-score quality/token counts over the CUT texts (rqqfeat) —
        -- what the Spark side's in-pass re-scoring carries on the
        -- survivor frames — and DSIR-score the cut corpus against the
        -- lang='en' target
        {rqfeat},
        {cdsir},
        cdsel AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY dsir DESC, doc_id) AS rk,
                       COUNT(*) OVER () AS n
                FROM cdsir_sc
            ) WHERE rk <= (n * {kf_bp} + 9999) // 10000
        ),
        cds AS MATERIALIZED (
            SELECT s.doc_id, s.text, s.toks
            FROM cspancut s JOIN cdsel USING (doc_id)
        ),
        -- LM-perplexity selection in the same slot as DSIR (round 15):
        -- train the add-one bigram LM on the post-DSIR cut corpus and
        -- keep the exact lowest-xent ⌈{CURATE_LM_KEEP}·N⌉ (same rank
        -- rule, ascending)
        {clm},
        clsel AS (
            SELECT doc_id FROM (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY lm_xent ASC, doc_id) AS rk,
                       COUNT(*) OVER () AS n
                FROM clm_sc
            ) WHERE rk <= (n * {lm_bp} + 9999) // 10000
        ),
        cls AS MATERIALIZED (
            SELECT s.doc_id, s.text, s.toks FROM cds s JOIN clsel USING (doc_id)
        ),
        {_mixture_oracle_ctes(
            "SELECT d.lang AS stratum, CAST(length(u.text) AS BIGINT) AS w "
            "FROM cls u JOIN cdocs d ON d.doc_id = u.doc_id",
            CURATE_MIXTURE,
            prefix="cmx",
        )},
        cmix AS MATERIALIZED (
            SELECT u.doc_id, u.text, u.toks
            FROM cls u
            JOIN cdocs d ON d.doc_id = u.doc_id
            LEFT JOIN cmx_rate r ON r.stratum = d.lang
            WHERE {_split_bucket_oracle_sql("u.doc_id", salt=CURATE_MIX_SALT)}
                  < COALESCE(r.rate_bp, 0)
        ),
        cbud AS MATERIALIZED (
            SELECT doc_id, text, toks FROM (
                SELECT u.doc_id, u.text, u.toks,
                       CAST(SUM(q.n_tokens) OVER (ORDER BY q.quality DESC, u.doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum
                FROM cmix u JOIN rqqfeat q ON q.doc_id = u.doc_id
                WHERE q.n_tokens > 0
            ) WHERE cum <= {CURATE_TOKEN_BUDGET}
        ),
        -- PII redaction over the shipped survivors (the RE2-expressible
        -- chain, sequential masking order pinned == redact_pii's), then
        -- re-tokenize: chunking consumes the REDACTED text, so a grouped
        -- card collapsing 4 tokens -> 1 <CARD> tag moves every chunk/bin
        -- aggregate below
        credact AS MATERIALIZED (
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{PII_CARD_RE}', '<CARD>', 'g'),
                       '{PII_SSN_RE}', '<SSN>', 'g') AS text
            FROM cbud
        ),
        crtok AS (
            SELECT doc_id, {_SQL_TOKENS} AS toks FROM credact
        ),
        cnch AS (
            SELECT doc_id, toks,
                   1 + GREATEST(CAST(CEIL((len(toks) - {win}) / {stride}.0) AS INT), 0)
                       AS n_chunks
            FROM crtok WHERE len(toks) > 0
        ),
        cchunks AS (
            SELECT doc_id,
                   CAST(i AS INT) AS chunk_idx,
                   CAST(len(array_slice(toks, i * {stride} + 1,
                                        i * {stride} + {win})) AS BIGINT) AS n_tokens,
                   {_split_oracle_case("doc_id", _DEFAULT_SPLITS)} AS split
            FROM (SELECT doc_id, toks,
                         unnest(generate_series(0, n_chunks - 1)) AS i FROM cnch)
        ),
        cbinned AS MATERIALIZED (
            SELECT *,
                   (CAST(SUM(n_tokens) OVER (PARTITION BY split
                        ORDER BY doc_id, chunk_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) - 1) // {budget} AS bin_id
            FROM cchunks
        ),
        cfilled AS (
            SELECT *,
                   CAST(SUM(n_tokens) OVER (PARTITION BY split, bin_id
                        ORDER BY doc_id, chunk_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS bin_fill
            FROM cbinned
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS doc_id, CAST(NULL AS INT) AS chunk_idx,
               CAST(NULL AS INT) AS n_tokens, 'stage:quality' AS chunk_text
        FROM ckept
        UNION ALL
        SELECT CAST(COUNT(*) AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT),
               'stage:decon' FROM cdk
        UNION ALL
        SELECT CAST(COUNT(*) AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT),
               'stage:dedup' FROM cwin
        UNION ALL
        -- stage:span carries the TOTAL post-cut token count, not a doc
        -- count (span cutting rewrites text, never drops docs — a count
        -- row would be vacuously equal to stage:dedup); this pins the
        -- rewrite itself under the hash
        SELECT CAST(SUM(n_tokens) AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT),
               'stage:span' FROM rqqfeat
        UNION ALL
        SELECT CAST(COUNT(*) AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT),
               'stage:dsir' FROM cds
        UNION ALL
        SELECT CAST(COUNT(*) AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT),
               'stage:lm' FROM cls
        UNION ALL
        SELECT CAST(COUNT(*) AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT),
               'stage:mixture' FROM cmix
        UNION ALL
        SELECT CAST(COUNT(*) AS BIGINT), CAST(NULL AS INT), CAST(NULL AS INT),
               'stage:budget' FROM cbud
        UNION ALL
        -- redaction audit: docs rewritten + total token delta (the two
        -- grouped cards collapse 4 tokens -> 1); non-vacuous because the
        -- planted docs reach this stage by construction
        SELECT CAST(COUNT(*) FILTER (WHERE r.text <> b.text) AS BIGINT),
               CAST(NULL AS INT),
               CAST(SUM(len(b.toks) - len(t.toks)) AS INT),
               'stage:redact'
        FROM cbud b JOIN credact r USING (doc_id) JOIN crtok t USING (doc_id)
        UNION ALL
        SELECT CAST(SUM(DISTINCT doc_id) AS BIGINT), CAST(COUNT(*) AS INT),
               CAST(SUM(n_tokens) AS INT), 'split:' || split
        FROM cbinned GROUP BY split
        UNION ALL
        SELECT CAST(SUM(bin_id) AS BIGINT), CAST(COUNT(DISTINCT bin_id) AS INT),
               CAST(MAX(bin_fill) AS INT), 'bins:' || split
        FROM cfilled GROUP BY split
    )
"""


# q85's 'budget' section (round 13 continuation): token-budget quality
# selection — the "take the best documents until the budget fills" op a
# pipeline uses to hit a fixed training-token target.  One row per
# SELECTED document (cum running total ≤ TOKEN_BUDGET_SECTION over the
# (quality DESC, doc_id) order); quality is the integer-exact q81 score,
# so the cross-engine ordering — and therefore the selected SET — is
# bit-deterministic.  chunk_idx carries the running total.
def _budget_section_oracle() -> str:
    return f"""
    SELECT 'budget' AS method, doc_id, CAST(cum_tokens AS INT) AS chunk_idx,
           CAST(n_tokens AS INT) AS n_tokens, CAST(NULL AS VARCHAR) AS chunk_text
    FROM (
        WITH {_QFEAT_CTES},
        bcum AS (
            SELECT doc_id, n_tokens,
                   CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS cum_tokens
            FROM qfeat WHERE n_tokens > 0
        )
        SELECT * FROM bcum WHERE cum_tokens <= {TOKEN_BUDGET_SECTION}
    )
"""


@query(
    "q85_chunk_documents",
    oracle=f"""
    SELECT method, doc_id, chunk_idx, n_tokens, chunk_text FROM (
        SELECT 'chunk' AS method, doc_id, chunk_idx, n_tokens, chunk_text FROM (
            WITH tok AS (
                SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
            ),
            nch AS (
                SELECT doc_id, toks,
                       1 + GREATEST(CAST(CEIL((len(toks) - {CHUNK_WINDOW}) / {CHUNK_STRIDE}.0) AS INT), 0)
                           AS n_chunks
                FROM tok WHERE len(toks) > 0
            ),
            expanded AS (
                SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS i FROM nch
            )
            SELECT doc_id,
                   CAST(i AS INT) AS chunk_idx,
                   CAST(len(array_slice(toks, i * {CHUNK_STRIDE} + 1,
                                        i * {CHUNK_STRIDE} + {CHUNK_WINDOW})) AS INT) AS n_tokens,
                   array_to_string(array_slice(toks, i * {CHUNK_STRIDE} + 1,
                                               i * {CHUNK_STRIDE} + {CHUNK_WINDOW}), ' ') AS chunk_text
            FROM expanded
        )
        UNION ALL
        {_DECON_SECTION_ORACLE}
        UNION ALL
        {_bpe_train_oracle_section()}
        UNION ALL
        {_curate_section_oracle()}
        UNION ALL
        {_budget_section_oracle()}
    ) ORDER BY method, doc_id, chunk_idx
    """,
)
def q85_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch assembly, method-tagged (the q70/q74/q84 union
    convention):

    - 'chunk': context-window chunking of the corpus (window
      {CHUNK_WINDOW}, stride {CHUNK_STRIDE}) — see chunk_documents.
    - 'decon' (round 12, VERDICT r11 item 4): benchmark decontamination
      (``decontaminate``, functions/pipeline.py — the GPT-3/PaLM-style
      n-gram-overlap check) promoted onto the driver-checked surface.
      One row per corpus document sharing at least one
      {DECON_SECTION_N}-token n-gram with the derived eval set
      (n_tokens carries n_hits; chunk_idx/chunk_text are NULL).  The
      eval set is rebuilt from the corpus itself (see the
      DECON_SECTION_* constants), so the check is non-vacuous at every
      SF and needs no fixture.
    - 'bpe_merge' (round 12, VERDICT r11 missing-item 3): BPE TRAINING
      itself — ``bpe_train(num_merges={BPE_TRAIN_SECTION_K}, batch_k=1,
      min_pair_count=1)`` runs inside this query (the q82 classifier
      precedent: a bounded driver loop of vocab-sized jobs) and the
      LEARNED MERGES ship as rows (doc_id = merge rank, chunk_text =
      'a b').  The oracle replays all {BPE_TRAIN_SECTION_K} training
      rounds as chained CTEs, so the driver hash pins the exact merge
      identities AND their order — the trainer's pair counting,
      tie-break, and boundary-safe replace semantics are all under the
      cross-engine check now, not just the frozen-artifact encode
      (q82's n_bpe_enc).
    - 'curate' (round 13, VERDICT r12 item 4; extended round 14 with
      mixture/budget, round 15 with span-cut/DSIR — VERDICT r13 item 2
      / r14 top_next): the END-TO-END curation pipeline
      (functions/pipeline.curate_corpus — quality gate →
      decontamination → exact dedup → duplicated-span cutting
      (CURATE_SPAN_N-token spans, keep-first, with in-pass re-scoring
      of the cut text) → DSIR selection (exact top-CURATE_DSIR_KEEP
      fraction against the lang='en' target) → LM-perplexity selection
      (exact lowest-xent CURATE_LM_KEEP fraction under the survivor
      bigram LM) → data-mixture resampling
      (CURATE_MIXTURE by characters of the CUT text, salt
      CURATE_MIX_SALT) → token-budget selection (best post-cut quality
      first to CURATE_TOKEN_BUDGET) → chunk → leakage-safe split →
      per-split packing) under one chained-CTE oracle: per-stage
      survivor counts (stage:span carries the post-cut token total —
      the cut rewrites text rather than dropping docs) plus per-split
      chunk/bin aggregates with SUM(DISTINCT doc_id)/SUM(bin_id)
      membership checksums over the composed output.  This pins the
      stage INTERACTION (order, survivor flow, text-rewrite
      propagation) of the FULL selection chain cross-engine.
    - 'budget' (round 13 continuation): token-budget quality selection —
      one row per document kept by "best quality first until
      {TOKEN_BUDGET_SECTION} tokens" (chunk_idx = the running token
      total at that document).  Distributed prefix sum over the
      (quality DESC, doc_id) order (functions/sampling.py
      ranged_running_total — no single-task global window); the oracle
      re-derives the selection with one SUM() OVER window, which the
      two-phase distributed sum must equal exactly.

    No trailing sort — the chunk section alone is corpus-scale output
    and the driver's hash compare is order-insensitive (the oracle keeps
    its ORDER BY for readability)."""
    from emulating_hadoop_with_mpi_spark.functions.bpe import bpe_train
    from emulating_hadoop_with_mpi_spark.functions.pipeline import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, window=CHUNK_WINDOW, stride=CHUNK_STRIDE).select(
        F.lit("chunk").alias("method"), "doc_id", "chunk_idx", "n_tokens", "chunk_text"
    )
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(DECON_SECTION_MOD)) == 0).select(
        F.concat_ws(
            " ", F.slice(tokens_col(), 1, DECON_SECTION_PROMPT)
        ).alias("text")
    )
    decon = decontaminate(docs, bench, n=DECON_SECTION_N).select(
        F.lit("decon").alias("method"),
        "doc_id",
        F.lit(None).cast("int").alias("chunk_idx"),
        F.col("n_hits").cast("int").alias("n_tokens"),
        F.lit(None).cast("string").alias("chunk_text"),
    )
    merges = bpe_train(
        docs.select("doc_id", "text"),
        num_merges=BPE_TRAIN_SECTION_K,
        min_pair_count=1,
        batch_k=1,
    )
    mrows = spark.createDataFrame(
        [(i + 1, f"{a} {b}") for i, (a, b) in enumerate(merges)],
        "doc_id long, chunk_text string",
    ).select(
        F.lit("bpe_merge").alias("method"),
        "doc_id",
        F.lit(None).cast("int").alias("chunk_idx"),
        F.lit(None).cast("int").alias("n_tokens"),
        "chunk_text",
    )

    # 'curate' (round 13, VERDICT r12 item 4): the curation-pipeline
    # COMPOSITION under the driver hash.  Per-stage survivor counts
    # replay the composed prefixes (quality → decon → dedup) with the
    # same helpers curate_corpus wires, and the per-split rows aggregate
    # curate_corpus's ACTUAL output — chunk counts, token sums, bin
    # counts/fill, plus SUM(DISTINCT doc_id) / SUM(bin_id) membership
    # checksums so a winner-rule, split-assignment, or packing change
    # flips the hash even when row counts collide.  Aggregates only —
    # five + 2·|splits| rows regardless of corpus size.
    def _crow(agg_df: DataFrame, label: str) -> DataFrame:
        return agg_df.select(
            F.lit("curate").alias("method"),
            F.col("n").cast("long").alias("doc_id"),
            F.lit(None).cast("int").alias("chunk_idx"),
            F.lit(None).cast("int").alias("n_tokens"),
            F.lit(label).alias("chunk_text"),
        )

    # 'budget' (round 13 continuation): token-budget quality selection —
    # distributed running total of n_tokens over the (quality DESC,
    # doc_id) order, keep while the running total fits the budget.  Its
    # ranged staged frame and the curate budget stage's below both stay
    # warm under sampling.py's capacity-2 plan-keyed cache registry.
    #
    # ONE quality pass for the whole query (round 14): this section and
    # the curate composition's gate stage both consume
    # quality_gate_scores(docs) (the lean (n_tokens, quality) twin —
    # round 15) — persist the shared compact projection once, built
    # EXACTLY like curate_frames' internal scored frame so Spark's
    # cache manager substitutes the in-memory relation into every
    # consumer plan (plan-equality cache matching; ~20 B/doc).
    qs_base = _QSCORE_CACHE.lookup(
        quality_gate_scores(docs).select("doc_id", "n_tokens", "quality")
    )
    qs = qs_base.filter(F.col("n_tokens") > 0)
    brows = (
        _ranged_running_total(
            qs,
            ord_col=-F.col("quality"),
            tie_col="doc_id",
            val_col=F.col("n_tokens"),
            out_col="cum_tokens",
        )
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET_SECTION)
        .select(
            F.lit("budget").alias("method"),
            "doc_id",
            F.col("cum_tokens").cast("int").alias("chunk_idx"),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.lit(None).cast("string").alias("chunk_text"),
        )
    )

    # ONE composition, every stage audited from the SAME frames the final
    # table is built from (curate_frames — the spans=/postings= injection
    # idiom applied to the pipeline): replaying the stage chain a second
    # time for the counts doubled the whole quality/decon/dedup prefix
    # and read 33 s at sf0.1.  Round 14: the config includes the
    # mixture/token-budget stages (see the CURATE_* constants above),
    # and curate_frames registers the decon/dedup anchors in its bounded
    # plan-keyed cache itself.
    from emulating_hadoop_with_mpi_spark.functions.pipeline import (
        PII_PATTERNS_RE2,
        curate_frames,
    )

    # Round 16: the composition input is AUGMENTED with the planted
    # PII-bearing docs (PLANTED_PII_DOCS — rationale at the constant) and
    # the chain now ends with the RE2-expressible redaction, so the
    # redact stage is inside the driver hash non-vacuously.  The oracle
    # unions the identical rows (cdocs).
    planted = spark.createDataFrame(
        PLANTED_PII_DOCS, schema="doc_id long, text string, lang string"
    )
    docs_cur = docs.select("doc_id", "text", "lang").unionByName(planted)

    # ONE corpus feature pass for the whole query (round 16 restoration
    # of the r14 sharing): the input union broke the plan-equality
    # substitution of the budget section's persisted quality frame into
    # curate_frames' internal scoring, so inject the augmented scored
    # frame instead — the cached corpus frame (qs_base above) plus a
    # 3-row literal pass over the planted docs.
    scored_cur = qs_base.unionByName(
        quality_gate_scores(planted).select("doc_id", "n_tokens", "quality")
    )

    fr = curate_frames(
        docs_cur,
        min_quality=CURATE_MIN_QUALITY,
        window=CHUNK_WINDOW,
        stride=CHUNK_STRIDE,
        budget=PACK_BUDGET,
        benchmark=bench,
        decon_ngram=DECON_SECTION_N,
        cut_span_ngram=CURATE_SPAN_N,
        dsir_target=F.col("lang") == "en",
        dsir_keep_frac=CURATE_DSIR_KEEP,
        lm_keep_frac=CURATE_LM_KEEP,
        mixture=CURATE_MIXTURE,
        mixture_salt=CURATE_MIX_SALT,
        token_budget=CURATE_TOKEN_BUDGET,
        redact=True,
        redact_patterns=PII_PATTERNS_RE2,
        scored=scored_cur,
    )
    stage_rows = (
        _crow(fr["quality"].agg(F.count(F.lit(1)).alias("n")), "stage:quality")
        .unionByName(
            _crow(fr["decon"].agg(F.count(F.lit(1)).alias("n")), "stage:decon")
        )
        .unionByName(
            _crow(fr["decon"].agg(F.countDistinct("text").alias("n")), "stage:dedup")
        )
        .unionByName(
            # total POST-CUT token count (docs aren't dropped by the cut,
            # so a doc count would be vacuous — this pins the rewrite);
            # n_tokens on the span_cut frame is the re-scored value
            _crow(fr["span_cut"].agg(F.sum("n_tokens").alias("n")), "stage:span")
        )
        .unionByName(
            _crow(fr["dsir"].agg(F.count(F.lit(1)).alias("n")), "stage:dsir")
        )
        .unionByName(
            _crow(fr["lm"].agg(F.count(F.lit(1)).alias("n")), "stage:lm")
        )
        .unionByName(
            _crow(fr["mixture"].agg(F.count(F.lit(1)).alias("n")), "stage:mixture")
        )
        .unionByName(
            _crow(fr["budget"].agg(F.count(F.lit(1)).alias("n")), "stage:budget")
        )
        .unionByName(
            # redaction audit (round 16): docs rewritten + total token
            # delta across the shipped survivors — one tiny join of two
            # anchored frames (budget survivors ≈ 25 docs)
            fr["budget"].select("doc_id", F.col("text").alias("__pre"))
            .join(fr["redact"].select("doc_id", "text"), "doc_id")
            .agg(
                F.sum((F.col("text") != F.col("__pre")).cast("long")).alias("n"),
                F.sum(
                    F.size(tokens_col("__pre")) - F.size(tokens_col("text"))
                ).alias("d"),
            )
            .select(
                F.lit("curate").alias("method"),
                F.col("n").cast("long").alias("doc_id"),
                F.lit(None).cast("int").alias("chunk_idx"),
                F.col("d").cast("int").alias("n_tokens"),
                F.lit("stage:redact").alias("chunk_text"),
            )
        )
    )
    curated = fr["curated"]
    split_rows = curated.groupBy("split").agg(
        F.sum_distinct("doc_id").alias("d"),
        F.count(F.lit(1)).alias("c"),
        F.sum("n_tokens").alias("t"),
    ).select(
        F.lit("curate").alias("method"),
        F.col("d").cast("long").alias("doc_id"),
        F.col("c").cast("int").alias("chunk_idx"),
        F.col("t").cast("int").alias("n_tokens"),
        F.concat(F.lit("split:"), F.col("split")).alias("chunk_text"),
    )
    bin_rows = curated.groupBy("split").agg(
        F.sum("bin_id").alias("d"),
        F.countDistinct("bin_id").alias("c"),
        F.max("bin_fill").alias("t"),
    ).select(
        F.lit("curate").alias("method"),
        F.col("d").cast("long").alias("doc_id"),
        F.col("c").cast("int").alias("chunk_idx"),
        F.col("t").cast("int").alias("n_tokens"),
        F.concat(F.lit("bins:"), F.col("split")).alias("chunk_text"),
    )
    return (
        chunks.unionByName(decon)
        .unionByName(mrows)
        .unionByName(stage_rows)
        .unionByName(split_rows)
        .unionByName(bin_rows)
        .unionByName(brows)
    )


@query(
    "q86_pack_sequences",
    oracle=f"""
    WITH staged AS (
        SELECT doc_id, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens
        FROM documents WHERE len({_SQL_TOKENS}) > 0
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
        FROM staged
    ),
    binned AS (
        SELECT doc_id, n_tokens, (c - 1) // {PACK_BUDGET} AS bin_id FROM cum
    )
    SELECT doc_id, n_tokens, CAST(bin_id AS BIGINT) AS bin_id,
           CAST(SUM(n_tokens) OVER (PARTITION BY bin_id ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS bin_fill,
           {_split_oracle_case("doc_id", _DEFAULT_SPLITS)} AS split,
           CAST(ROW_NUMBER() OVER (
                ORDER BY {_order_key_oracle_sql("doc_id", SHUFFLE_SALT)}, doc_id
           ) AS BIGINT) AS shuffle_pos
    FROM binned
    ORDER BY doc_id
    """,
)
def q86_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into {PACK_BUDGET}-token training bins — see
    pack_sequences for the distributed prefix-sum design.  The oracle is
    the sequential (single-window) formulation: acceptable in DuckDB at
    sf0.01, and exactly what the distributed two-phase sum must equal.

    ``split`` (round 12, VERDICT r11 item 3): every packed row also
    carries its deterministic train/val/test label —
    ``split_column("doc_id", DEFAULT_SPLITS)`` (functions/sampling.py),
    the leakage-safe keyed-hash carve every downstream training run
    trusts.  The md5-derived bucket is re-derived per row by the DuckDB
    oracle, so the driver hash covers the ASSIGNMENT itself, not just
    its counts; it is map-only on this query's spine (zero extra scans
    or joins).  No trailing sort — the output is corpus-scale and the
    driver's hash compare is order-insensitive.

    ``shuffle_pos`` (round 13 continuation): the deterministic global
    TRAINING-ORDER SHUFFLE — each row's 1-based position under the
    md5-keyed order (functions/sampling.global_order_index), i.e. the
    reproducible permutation a run shards its training data by, with
    none of ``rand()``'s layout dependence.  Distributed prefix count
    over percentile ranges (the pack_sequences machinery generalized —
    no single-task global window), re-derived by the oracle as
    ``ROW_NUMBER() OVER (ORDER BY md5key, doc_id)`` so the driver hash
    covers the entire permutation."""
    docs = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(docs, budget=PACK_BUDGET).withColumn(
        "split", _split_column("doc_id", _DEFAULT_SPLITS)
    )
    return _global_order_index(packed, "doc_id", salt=SHUFFLE_SALT)
