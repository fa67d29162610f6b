"""PII redaction (functions/pipeline.redact_pii, round 9): planted
identifiers are masked with their type tags, ordinary prose and plain
numbers survive untouched, and pii_count_cols agrees with the redaction.
"""

from __future__ import annotations

from emulating_hadoop_with_mpi_spark.functions.pipeline import (
    pii_count_cols,
    redact_pii,
)

DOCS = [
    (1, "contact jane.doe+spam@example.co.uk or bob@sub.domain.org today"),
    (2, "server at 192.168.1.254 and 8.8.8.8 responded"),
    (3, "card 4111 1111 1111 1111 and 5500-0000-0000-0004 declined"),
    (4, "ssn 123-45-6789 on file"),
    (5, "call +1 (555) 123-4567 or 020 7946 0958 now"),
    (6, "in 2024 the answer was 42 and pi is 3.14159 at version 1.2.3.4.5"),
    (7, "mixed: a@b.io from 10.0.0.1 re card 4012888888881881"),
    # ADVICE r9 precision canaries: bare 13-16-digit integers that are
    # NOT cards (microsecond epoch starting with 1, an order id starting
    # with 9) must survive; only IIN-anchored (3-6) bare runs may match
    (8, "ts 1786741210082019 order 9000000000001234 shipped"),
]


def test_redaction_masks_planted_pii(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = {r.doc_id: r.text for r in redact_pii(df).collect()}
    assert out[1] == "contact <EMAIL> or <EMAIL> today"
    assert out[2] == "server at <IP> and <IP> responded"
    assert out[3] == "card <CARD> and <CARD> declined"
    assert out[4] == "ssn <SSN> on file"
    assert "<PHONE>" in out[5] and "555" not in out[5]
    assert out[7] == "mixed: <EMAIL> from <IP> re card <CARD>"


def test_redaction_leaves_prose_alone(spark):
    """Plain years, small numbers, dotted versions, and bare long
    integers (epochs, order ids) must NOT match — precision over recall
    (docs 6 and 8 are the canaries)."""
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    out = {r.doc_id: r.text for r in redact_pii(df).collect()}
    assert out[6] == DOCS[5][1]
    assert out[8] == DOCS[7][1]


def test_pii_counts_agree_with_redaction(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {r.doc_id: r for r in df.select("doc_id", *pii_count_cols()).collect()}
    assert got[1].n_email == 2 and got[1].n_ip == 0
    assert got[2].n_ip == 2
    assert got[3].n_card == 2
    assert got[4].n_ssn == 1 and got[4].n_card == 0  # SSN not eaten by card
    assert got[5].n_phone >= 1
    assert all(
        v == 0
        for v in (got[6].n_email, got[6].n_ip, got[6].n_card, got[6].n_ssn, got[6].n_phone)
    )
    assert got[7].n_email == 1 and got[7].n_ip == 1 and got[7].n_card == 1


def test_redaction_plan_is_map_only(spark):
    from emulating_hadoop_with_mpi_spark.plans.inspect import executed_plan

    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    plan = executed_plan(redact_pii(df))
    assert "Exchange" not in plan and "BatchEvalPython" not in plan, plan
