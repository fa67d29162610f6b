"""Round-18 pin: the NumPy mapInArrow quality-feature kernel computes
exactly the values the former all-Catalyst formulation did.

The kernel (functions/text._qfeat_batches_fn) replaced the interpreted
higher-order-function lambdas (transform/zip_with/aggregate/filter)
behind quality_scores; its contract is BIT-IDENTICAL output — the same
tokens of lower(text), same ASCII class counts, exact per-doc mode
counts, and an unchanged JVM ratio/quality projection.  The former
formulation, _quality_scores_jvm in tests/reference_forms.py, is
compared row-for-row, column-for-column here on a corpus constructed to
hit the kernel's edge cases; the all-Catalyst quality_gate_scores subset
is pinned to quality_scores on the same corpus.  The generator-level
tests feed the kernel staged batches whose ``lower_text`` column is
Python's ``str.lower`` of ``text``, which equals Spark's lower on these
fixtures.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from reference_forms import _quality_scores_jvm, kernel_pairs

from emulating_hadoop_with_mpi_spark.functions.text import (
    _qfeat_batches_fn,
    quality_gate_scores,
    quality_scores,
)

# edge cases: repeated tokens/bigrams/trigrams (mode counts), exactly one
# and two tokens (empty n-gram arrays), empty and whitespace-only text,
# every Java-\s whitespace char, mixed case (lower() path), uppercase
# stopwords, digit/punctuation runs, UTF-8 multibyte text (codepoint
# counting + ASCII class masks), a long doc spanning reduceat segments,
# and cased non-ASCII letters whose lowercase changes length or lands in
# ASCII (İ → i + U+0307, word-final Σ → ς, Kelvin sign U+212A → k).
# Small maxRecordsPerBatch forces several Arrow batches.
_DOCS = [
    (1, "a b a b a b c"),
    (2, "x x x x"),
    (3, "one two"),
    (4, "solo"),
    (5, ""),
    (6, "   "),
    (7, "  Mixed   CASE  mixed "),
    (8, "p q r p q r p q r"),
    (9, "The THE the AND and OF of"),
    (10, "\t\n x \x0b y \f z \r"),
    (11, "a1 b2 33 4d !? ,,"),
    (12, "café café naïve über"),
    (13, "a " * 500 + "b"),
    (14, "der die das und ist ein zu mit auf nicht"),
    (15, "10 20 30 40 50 60 70 80 90 100 " * 3),
    (16, "İstanbul İZMİR İ i"),
    (17, "ΟΔΟΣ ΟΔΟΣ Σ σ ς"),
    (18, "\u212a \u212aelvin kelvin K"),
]


def _staged(texts):
    """A staged (doc_id, text, lower_text) batch, as _stage_text makes."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array(list(range(len(texts))), type=pa.int64()),
            pa.array(texts, type=pa.string()),
            pa.array([t.lower() for t in texts], type=pa.string()),
        ],
        names=["doc_id", "text", "lower_text"],
    )


_FULL_COLS = [
    "n_chars", "n_tokens", "alpha_ratio", "digit_ratio", "stopword_ratio",
    "max_word_frac", "top_bigram_frac", "dup_trigram_frac", "quality",
]


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select("doc_id", *cols).collect())


@pytest.mark.parametrize("keep_text", [False, True])
def test_quality_kernel_equals_jvm_reference(spark, keep_text):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        cols = (["text"] if keep_text else []) + _FULL_COLS
        got = _rows(quality_scores(docs, keep_text=keep_text), cols)
        exp = _rows(_quality_scores_jvm(docs, keep_text=keep_text), cols)
        assert got == exp
        # the gate subset carries the same token count and quality
        gate_cols = (["text"] if keep_text else []) + ["n_tokens", "quality"]
        got_g = _rows(quality_gate_scores(docs, keep_text=keep_text), gate_cols)
        exp_g = _rows(quality_scores(docs, keep_text=keep_text), gate_cols)
        assert got_g == exp_g
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_kernel_generator_on_sliced_batch():
    """Direct unit test of the generator on a manually sliced RecordBatch
    (offsets not starting at 0) — Spark builds each Arrow batch fresh, so
    only a hand-sliced batch exercises the rebase path (ADVICE r17)."""
    batch = _staged([t for _, t in _DOCS])
    gen = _qfeat_batches_fn(keep_text=False)
    full = list(gen([batch]))[0]
    sliced = list(gen([batch.slice(2)]))[0]
    for name in full.schema.names:
        if name == "doc_id":
            continue
        whole = full.column(name).to_pylist()[2:]
        part = sliced.column(name).to_pylist()
        assert whole == part, name
    # empty batches are skipped, not emitted
    assert list(gen([batch.slice(0, 0)])) == []


def test_kernel_rejects_null_text(spark):
    """Every text kernel fails the same loud way on a null text, through
    its public entry: the shared front end's ValueError."""
    docs = spark.createDataFrame(
        [(1, "a b c", "en"), (2, None, "en")], "doc_id long, text string, lang string"
    )
    for entry, _ in kernel_pairs().values():
        with pytest.raises(Exception, match=r"ValueError: text kernel: null text"):
            entry(docs).collect()


def test_kernel_matches_numpy_free_reference():
    """Independent pure-Python reference (Counter-based) for the mode
    counts — guards the segmented-reduceat arithmetic itself."""
    from collections import Counter
    import re

    ws = re.compile("[ \t\n\x0b\f\r]+")
    batch = _staged([t for _, t in _DOCS])
    out = list(_qfeat_batches_fn(keep_text=False)([batch]))[0]
    for i, (_, t) in enumerate(_DOCS):
        toks = [w for w in ws.split(t.lower()) if w]
        g2 = list(zip(toks, toks[1:]))
        g3 = list(zip(toks, toks[1:], toks[2:]))
        exp = {
            "n_chars": len(t),
            "n_tokens": len(toks),
            "n_alpha": sum(c.isascii() and c.isalpha() for c in t),
            "n_digit": sum(c.isascii() and c.isdigit() for c in t),
            "max_word": max(Counter(toks).values(), default=0),
            "top2": max(Counter(g2).values(), default=0),
            "n2": max(len(toks) - 1, 0),
            "n3": max(len(toks) - 2, 0),
            "d3": len(set(g3)),
        }
        for k, v in exp.items():
            assert out.column(k).to_pylist()[i] == v, (i, k)


def test_quality_kernel_fuzz_seeded():
    """Seeded fuzz: 300 random strings (letters/digits/punct/Java-\\s/
    multibyte) — kernel count columns vs a pure-python Counter
    reference."""
    import random
    import re
    from collections import Counter

    rng = random.Random(0xBEEF)
    alphabet = "ab z A Z 0 9 .,!?-_ \t\n\x0b\f\r éß漢🎉"
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 80)))
        for _ in range(300)
    ]
    batch = _staged(texts)
    ws = re.compile("[ \t\n\x0b\f\r]+")
    outs = list(_qfeat_batches_fn(keep_text=False)([batch]))
    got = {k: sum((o.column(k).to_pylist() for o in outs), []) for k in
           ("n_chars", "n_tokens", "n_alpha", "n_digit", "n_stop",
            "max_word", "top2", "n2", "n3", "d3")}
    from emulating_hadoop_with_mpi_spark.functions.text import ALL_STOPWORDS

    stop = set(ALL_STOPWORDS)
    for i, t in enumerate(texts):
        toks = [w for w in ws.split(t.lower()) if w]
        g2 = list(zip(toks, toks[1:]))
        g3 = list(zip(toks, toks[1:], toks[2:]))
        assert got["n_chars"][i] == len(t)
        assert got["n_tokens"][i] == len(toks)
        assert got["n_alpha"][i] == sum(c.isascii() and c.isalpha() for c in t)
        assert got["n_digit"][i] == sum(c.isascii() and c.isdigit() for c in t)
        assert got["n_stop"][i] == sum(w in stop for w in toks)
        assert got["max_word"][i] == max(Counter(toks).values(), default=0)
        assert got["top2"][i] == max(Counter(g2).values(), default=0)
        assert got["n2"][i] == max(len(toks) - 1, 0)
        assert got["n3"][i] == max(len(toks) - 2, 0)
        assert got["d3"][i] == len(set(g3))
