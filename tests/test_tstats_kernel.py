"""Pins for q80's token_stats against independent pure-Python references:
the BPE-ish regex count ([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]) against
Python ``re`` over the same pattern, and every computed column against
``re``/set references on a seeded 300-string fuzz corpus.
"""

from __future__ import annotations

import random
import re

import pytest

from emulating_hadoop_with_mpi_spark.functions.text import (
    PII_CANARY_DOC_ID,
    PII_CANARY_TEXT,
    token_stats,
)

# letter/digit/punct runs (the BPE regex's three branches), UTF-8
# multibyte (é is one [^A-Za-z0-9\s] char, two bytes), every Java-\s
# char, repeated tokens (uniq < total), empty and whitespace-only text,
# the PII canary
_DOCS = [
    (1, "en", "abc123!? x9 ,,"),
    (2, "en", "a b a b a b c"),
    (3, "es", ""),
    (4, "es", "   "),
    (5, "de", "café+naïve über12"),
    (6, "fr", "\t\n x \x0b y \f z \r"),
    (7, "zh", "word" * 50 + " 123456 . . ."),
    (8, "en", "Mixed CASE mixed case"),
    (PII_CANARY_DOC_ID, "xx", PII_CANARY_TEXT),
]

# seeded fuzz: letters, digits, punctuation, every Java-\s char and
# multibyte codepoints (2-, 3- and 4-byte UTF-8)
_rng = random.Random(0xC0FFEE)
_ALPHABET = "ab z A Z 0 9 .,!?-_ \t\n\x0b\f\r éß漢🎉"
_FUZZ = [
    (1000 + n, "xx", "".join(_rng.choice(_ALPHABET) for _ in range(_rng.randrange(0, 80))))
    for n in range(300)
]

_WS = re.compile("[ \t\n\x0b\f\r]+")
_BPE = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]")


@pytest.fixture(scope="module")
def stats(spark):
    """{doc_id: (text, token_stats row)} over the edge docs + fuzz corpus."""
    rows = _DOCS + _FUZZ
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r for r in token_stats(docs).collect()}
    assert len(got) == len(rows)
    return {d: (t, got[d]) for d, _, t in rows}


def test_tstats_kernel_matches_python_regex_reference(stats):
    """Independent reference for the JVM BPE count: python re over the
    same pattern (RE2-free constructs only)."""
    for doc_id, _, _ in _DOCS:
        t, r = stats[doc_id]
        assert r["n_bpe_tokens"] == len(_BPE.findall(t)), t
        assert r["n_chars"] == len(t), t


def test_tstats_kernel_fuzz_seeded(stats):
    """Seeded fuzz: every computed column vs pure-python references."""
    for doc_id, _, _ in _FUZZ:
        t, r = stats[doc_id]
        toks = [w for w in _WS.split(t.lower()) if w]
        assert r["n_tokens"] == len(toks), t
        assert r["n_uniq_tokens"] == len(set(toks)), t
        assert r["n_chars"] == len(t), t
        assert r["n_bpe_tokens"] == len(_BPE.findall(t)), t
