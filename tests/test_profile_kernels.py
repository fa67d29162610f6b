"""Round-18 pin: the mapInArrow DSIR/LM profile kernels emit exactly
the rows the former explode + groupBy formulations did.

The kernels (functions/dsir._bucket_batches_fn and
functions/lm._profile_batches_fn) compute per-document hashed-bigram
counts row-locally, removing an interpreted transform lambda, per-
occurrence md5 expressions, and one full exchange of the gram stream
each.  Their contract is BIT-IDENTICAL profile frames — the same tokens
of lower(text), same md5[:15 hex] arithmetic — so the downstream
stats/weights/score joins (untouched) produce bit-identical dsir /
lm_xent values.  The former formulations, _doc_bucket_counts_jvm /
_doc_bigram_profile_jvm in tests/reference_forms.py, are compared
row-for-row here, plus end-score equality through the public entry
points.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reference_forms import _doc_bigram_profile_jvm, _doc_bucket_counts_jvm

from emulating_hadoop_with_mpi_spark.functions.dsir import doc_bucket_counts, dsir_scores
from emulating_hadoop_with_mpi_spark.functions.lm import bigram_lm_xent, doc_bigram_profile

# edge cases: repeated bigrams (count > 1), exactly one bigram, one and
# zero tokens (dropped by the >= 2 filter), whitespace variety, mixed
# case, UTF-8 multibyte grams, a long doc, twins (identical rows), and
# cased non-ASCII letters (İ, word-final Σ, Kelvin sign U+212A).
_DOCS = [
    (1, "a b a b a b c", "en"),
    (2, "one two", "en"),
    (3, "solo", "es"),
    (4, "", "es"),
    (5, "  Mixed   CASE  mixed ", "de"),
    (6, "\t\n x \x0b y \f z \r", "fr"),
    (7, "café café naïve über", "zh"),
    (8, " ".join(f"w{i % 7}" for i in range(60)), "en"),
    (9, "x y z", "en"),
    (10, "x y z", "en"),
    (11, "İstanbul İZMİR İ i", "en"),
    (12, "ΟΔΟΣ ΟΔΟΣ Σ σ ς", "es"),
    (13, "\u212a \u212aelvin kelvin K", "en"),
]


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string, lang string")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    yield df
    spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_dsir_bucket_kernel_equals_jvm_reference(docs):
    tgt = F.col("lang") == "en"
    got = _sorted(doc_bucket_counts(docs, tgt))
    exp = _sorted(_doc_bucket_counts_jvm(docs, tgt))
    assert got == exp
    # short docs are dropped, not zero-row'd
    ids = {t[0] for t in got}
    assert 3 not in ids and 4 not in ids
    # repeated bigrams aggregate within the doc (doc 1 has "a b" ×3)
    assert max(t[3] for t in got if t[0] == 1) >= 3


def test_dsir_scores_equal_through_public_entry(docs):
    tgt = F.col("lang") == "en"
    got = _sorted(dsir_scores(docs, is_target=tgt))
    # scores over the JVM profile: swap the profile, keep the pipeline
    from emulating_hadoop_with_mpi_spark.functions import dsir as D

    orig = D.doc_bucket_counts
    D.doc_bucket_counts = _doc_bucket_counts_jvm
    try:
        exp = _sorted(dsir_scores(docs, is_target=tgt))
    finally:
        D.doc_bucket_counts = orig
    assert got == exp


def test_lm_profile_kernel_equals_jvm_reference(docs):
    got = _sorted(doc_bigram_profile(docs))
    exp = _sorted(_doc_bigram_profile_jvm(docs))
    assert got == exp
    # exact twins carry identical profile rows
    nine = sorted(t[1:] for t in got if t[0] == 9)
    ten = sorted(t[1:] for t in got if t[0] == 10)
    assert nine == ten and nine


def test_lm_xent_equal_through_public_entry(docs):
    got = _sorted(bigram_lm_xent(docs.select("doc_id", "text")))
    from emulating_hadoop_with_mpi_spark.functions import lm as L

    orig = L.doc_bigram_profile
    L.doc_bigram_profile = _doc_bigram_profile_jvm
    try:
        exp = _sorted(bigram_lm_xent(docs.select("doc_id", "text")))
    finally:
        L.doc_bigram_profile = orig
    assert got == exp
