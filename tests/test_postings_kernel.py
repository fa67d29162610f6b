"""Round-18 pin: the mapInArrow posting kernel emits exactly the rows
the former explode + groupBy(doc_id, term) formulation
(_corpus_postings_jvm in tests/reference_forms.py) did — types
included (tf bigint from count, dl int from size).  corpus_postings
backs q84's tfidf AND bm25 sections, so end-to-end equality rides the
q84 oracle; this pins the frame itself on kernel edge cases.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from reference_forms import _corpus_postings_jvm

from emulating_hadoop_with_mpi_spark.functions.search import corpus_postings

# repeated terms (tf > 1), single-token docs, empty and whitespace-only
# (dropped), mixed case, every Java-\s char, UTF-8 multibyte terms,
# twins (identical posting rows), a long doc, and cased non-ASCII
# letters (İ, word-final Σ, Kelvin sign U+212A)
_DOCS = [
    (1, "a b a b a b c"),
    (2, "solo"),
    (3, ""),
    (4, "   "),
    (5, "  Mixed   CASE  mixed "),
    (6, "\t\n x \x0b y \f z \r"),
    (7, "café café naïve"),
    (8, " ".join(f"w{i % 7}" for i in range(60))),
    (9, "x y z"),
    (10, "x y z"),
    (11, "İstanbul İZMİR İ i"),
    (12, "ΟΔΟΣ ΟΔΟΣ Σ σ ς"),
    (13, "\u212a \u212aelvin kelvin K"),
]


def test_posting_kernel_equals_jvm_reference(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        new = corpus_postings(docs)
        old = _corpus_postings_jvm(docs)
        # names + types must match (nullability flags legitimately differ:
        # groupBy infers non-null, mapInArrow DDL schemas default nullable —
        # not a driver-contract surface, DuckDB has no such flag)
        assert [(f.name, f.dataType) for f in new.schema.fields] == [
            (f.name, f.dataType) for f in old.schema.fields
        ], (new.schema, old.schema)
        got = sorted(tuple(r) for r in new.collect())
        exp = sorted(tuple(r) for r in old.collect())
        assert got == exp
        # token-less docs are absent, not zero-row'd
        ids = {t[0] for t in got}
        assert 3 not in ids and 4 not in ids
        # tf counts occurrences, dl the full token count (doc 1: "a" ×3, dl 7)
        one = {t[1]: (t[2], t[3]) for t in got if t[0] == 1}
        assert one["a"] == (3, 7) and one["c"] == (1, 7)
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
