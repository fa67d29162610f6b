"""BM25 ranked retrieval over the documents table.

Okapi BM25 (Robertson & Walker; the Lucene-default scoring function):
given a small set of text queries, return the top-k documents per query

    score(d, q) = Σ_{t ∈ q}  idf(t) · tf(t,d)·(k1+1)
                             / (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    idf(t) = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )   (Lucene form,
                                                            always ≥ 0)

This completes the engine's text-search story next to q84's corpus-level
TF-IDF terms and the vector-side cosine/ANN family: the missing piece
was "given a query string, which documents?".

Scale shape (100 TB):
- The query set is SMALL by definition (a handful of strings) — its
  exploded (query_id, term) table broadcasts everywhere; the corpus
  side is immediately SEMI-JOINED down to postings whose term appears
  in some query, so only candidate postings ever reach an exchange.
  Scoring all terms of a 100 TB corpus is never required.
- Corpus statistics (N, avgdl) reduce to ONE row (broadcast); per-doc
  lengths ride the candidate postings, so df/tf/score are computed over
  the bounded candidate set with map-side combine.
- Top-k per query is a per-query window over candidates — partitioned
  by query_id, never a global sort.

Determinism (the local DuckDB parity test in tests/test_bm25.py): tf,
df, N, |d| are exact integers; idf and the saturation term are IEEE
expressions with pinned parenthesization (same ln discipline as
functions/dsir.py — both engines see bit-identical inputs, ln differs
≤ 1 ulp); scores are ROUND(·, 6)-ed and ties break on doc_id, so ranks
only diverge if two TRUE scores differ by < ~1e-13 without being
byte-equal — byte-equal scores (exact duplicate docs) tie-break
identically.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75


def _postings_batches_fn():
    """Arrow-batch posting kernel (round 18, guide §4.2 + §2.4 — the
    dsir/lm profile-kernel shape): staged (doc_id, lower_text) batches →
    (doc_id, term, tf, dl) rows, per-doc term frequencies computed
    ROW-LOCALLY by one unique over the (row, token code) keys.  The
    former explode + groupBy(doc_id, term) shuffled the whole token
    stream to group by a key every member of which already sat in one
    row.  ``dl`` is typed int like the former F.size."""
    from emulating_hadoop_with_mpi_spark.functions.text import _token_codes

    def gen(batches):
        import numpy as np

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            names = batch.schema.names
            tok_off, codes, dic = _token_codes(batch.column(names.index("lower_text")))
            k = max(len(dic), 1)
            dl = np.diff(tok_off)
            rows = np.repeat(np.arange(n, dtype=np.int64), dl)
            key, tf = np.unique(rows * k + codes, return_counts=True)
            if key.size == 0:
                continue
            r = key // k
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(names.index("doc_id")).take(r),
                    dic.take(key % k),
                    pa.array(tf, type=pa.int64()),
                    pa.array(dl[r], type=pa.int32()),
                ],
                names=["doc_id", "term", "tf", "dl"],
            )

    return gen


def corpus_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf, dl): the corpus-wide posting frame — one row
    per distinct (doc, term), ``dl`` the doc's full token count.  The
    shared contract between q84's tfidf section and ``bm25_topk``'s
    ``postings=`` injection (and the tests that pin their equality):
    defined ONCE so the three consumers cannot drift.

    Round 18: computed by the Arrow kernel (_postings_batches_fn) —
    zero exchanges; the former explode + groupBy paid a full
    token-stream shuffle for a row-local grouping (measured 0.72 →
    0.41 s at sf0.1, 0.52 → 0.39 s at sf1, min-of-3 interleaved;
    equality pinned in tests/test_postings_kernel.py against the former
    formulation, kept in tests/reference_forms.py)."""
    from emulating_hadoop_with_mpi_spark.functions.text import _stage_text

    return _stage_text(docs).mapInArrow(
        _postings_batches_fn(),
        "doc_id bigint, term string, tf bigint, dl int",
    )


def bm25_topk(
    docs: DataFrame,
    queries: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    postings: DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, rank, score): top-k documents per query string
    by BM25 over whitespace-lowercase tokens.  ``query_id`` is the
    0-based index into ``queries``.

    ``postings=`` (round 12, the q70 ``spans=`` injection convention):
    a precomputed corpus-wide (doc_id, term, tf, dl) frame — one row per
    distinct (doc, term), ``dl`` the doc's token count.  When a caller
    already built that frame for another consumer (q84's tfidf section
    does), injecting it means the corpus is TOKENIZED ONCE for both
    sections instead of once per section; corpus stats (N, avgdl) are
    then derived from the injected frame plus a tokenize-free row count
    of ``docs``, never a second token scan.  Standalone callers omit it
    and keep the semi-join-before-exchange shape below — against a
    corpus-wide frame the vocabulary filter lands after the groupBy
    instead of before it, which only wins when the grouped frame is
    shared."""
    from emulating_hadoop_with_mpi_spark.functions.text import tokens_col

    spark = docs.sparkSession
    qterms = (
        spark.createDataFrame(
            [(i, q) for i, q in enumerate(queries)], "query_id int, qtext string"
        )
        .select("query_id", F.explode(tokens_col("qtext")).alias("term"))
        .distinct()
    )

    if postings is None:
        staged = docs.select("doc_id", tokens_col().alias("toks"))
        # (doc_id, term, tf, dl): one row per (doc, term) occurrence class.
        # The broadcast semi-join against the query vocabulary BEFORE any
        # exchange is the operative scale move: candidate postings only.
        cand = (
            staged.select(
                "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
            )
            .join(F.broadcast(qterms.select("term").distinct()), "term", "left_semi")
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        )
        stats = staged.agg(
            F.count(F.lit(1)).alias("N"), F.avg(F.size("toks")).alias("avgdl")
        )
    else:
        cand = postings.join(
            F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
        )
        # N counts ALL docs (empty ones included — the oracle's COUNT(*)
        # over staged) but needs no tokenize: a column-pruned row count.
        # avgdl = Σdl / N with empty docs contributing 0 — dl rides the
        # posting frame, summed once per doc.  Arithmetic matches
        # F.avg's long-sum + one double division bit-for-bit (totals
        # < 2^53 — same exactness class as the tfidf score).
        n_total = docs.agg(F.count(F.lit(1)).alias("N"))
        sum_dl = (
            postings.groupBy("doc_id")
            .agg(F.max("dl").alias("dl"))
            .agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("__sdl"))
        )
        stats = n_total.crossJoin(F.broadcast(sum_dl)).select(
            "N",
            (F.col("__sdl").cast("double") / F.col("N").cast("double")).alias("avgdl"),
        )
    df_tbl = cand.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    # idf/saturation with parenthesization pinned identically in the
    # DuckDB twin (tests/test_bm25.py)
    idf = F.log(
        (F.col("N").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    sat = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
        )
    )
    scored = (
        cand.join(F.broadcast(df_tbl), "term")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * sat), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def bm25_oracle_sql(
    queries: list[str], k: int = 10, k1: float = BM25_K1, b: float = BM25_B
) -> str:
    """The DuckDB twin of bm25_topk over the pre-registered ``documents``
    view — used by the local parity test (not on the driver registry:
    the 50-entry cap is full; fold into a tagged section if a slot
    opens)."""
    from emulating_hadoop_with_mpi_spark.functions.text import _SQL_TOKENS

    if any("'" in q for q in queries):
        raise ValueError("query strings must not contain single quotes")
    qvals = ", ".join(
        f"({i}, '{q}')" for i, q in enumerate(queries)
    )
    return f"""
    WITH q(query_id, qtext) AS (VALUES {qvals}),
    qterms AS (
        SELECT DISTINCT query_id, unnest(
            list_filter(string_split_regex(lower(trim(qtext)), '\\s+'), x -> x != '')
        ) AS term FROM q
    ),
    staged AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    postings AS (
        SELECT doc_id, term, COUNT(*) AS tf, ANY_VALUE(dl) AS dl
        FROM (
            SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM staged
        )
        WHERE term IN (SELECT term FROM qterms)
        GROUP BY doc_id, term
    ),
    stats AS (SELECT COUNT(*) AS N, AVG(len(toks)) AS avgdl FROM staged),
    df_tbl AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
    scored AS (
        SELECT query_id, doc_id,
               ROUND(SUM(
                   LN((CAST(N AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                      / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                   * ((CAST(tf AS DOUBLE) * {k1 + 1.0})
                      / (CAST(tf AS DOUBLE)
                         + {k1} * ({1.0 - b} + {b} * CAST(dl AS DOUBLE) / avgdl)))
               ), 6) AS score
        FROM postings
        JOIN df_tbl USING (term)
        CROSS JOIN stats
        JOIN qterms USING (term)
        GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, rank, score FROM (
        SELECT query_id, doc_id, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id ASC
               ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= {k}
    ORDER BY query_id, rank
    """
