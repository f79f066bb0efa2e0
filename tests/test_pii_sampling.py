"""PII redaction tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.pii import pii_filter, redact_pii

PII_DOCS = [
    (1, "contact me at john.doe+spam@example.co.uk for details"),
    (2, "server at 192.168.1.254 port 8080, fallback 10.0.0.1"),
    (3, "SSN 123-45-6789 on file"),
    (4, "card 4111 1111 1111 1111 expires 12/26"),
    (5, "call 555-867-5309 or +1 (212) 555-0123"),
    (6, "clean document with no sensitive data at all"),
    (7, "v1.2.3.4 is not an IP but 8.8.8.8 is"),
    (8, "000-12-3456 is not a valid SSN prefix"),
]


@pytest.fixture(scope="module")
def pii_df(spark):
    return spark.createDataFrame(PII_DOCS, ["doc_id", "text"])


def test_redact_pii(pii_df):
    got = {r["doc_id"]: r["text"] for r in redact_pii(pii_df).collect()}
    assert got[1] == "contact me at <EMAIL> for details"
    assert got[2] == "server at <IP> port 8080, fallback <IP>"
    assert got[3] == "SSN <SSN> on file"
    assert got[4] == "card <CARD> expires 12/26"
    assert got[5] == "call <PHONE> or <PHONE>"
    assert got[6] == PII_DOCS[5][1]
    # version strings survive; the bare IP is caught
    assert got[7] == "v1.2.3.4 is not an IP but <IP> is"
    # invalid SSN area 000 is NOT redacted as SSN (it hits the phone rule's
    # NNN-NN… shape? no — phone needs 3-3/4 groups; it stays untouched)
    assert "<SSN>" not in got[8]


def test_pii_filter_zero_shuffle(pii_df):
    kept = pii_filter(pii_df, max_pii=0)
    assert {r["doc_id"] for r in kept.collect()} == {6, 8}
    plan = kept._jdf.queryExecution().executedPlan().toString()
    for op in ("Exchange", "Join", "Aggregate"):
        assert op not in plan, op


def _py_luhn(s: str) -> bool:
    ds = [int(ch) for ch in s if ch.isdigit()]
    if not 13 <= len(ds) <= 19:
        return False
    total = 0
    for k, d in enumerate(reversed(ds)):
        if k % 2 == 1:
            d *= 2
            if d > 9:
                d -= 9
        total += d
    return total % 10 == 0


def test_card_rule_requires_luhn(spark):
    """The card rule redacts only Luhn-valid candidates: a random
    16-digit string is not PII and must survive."""
    rows = [
        (1, "pay with 4111 1111 1111 1111 now"),        # valid visa test number
        (2, "pay with 4111 1111 1111 1112 now"),        # checksum off by one
        (3, "amex 3400-0000-0000-009 on file"),          # valid 15-digit
        (4, "id 1234567890123456 is an order number"),   # invalid
        (5, "5500 0000 0000 0004 mastercard test"),      # valid
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in redact_pii(df).collect()}
    assert got[1] == "pay with <CARD> now"
    assert "<CARD>" not in got[2]
    assert got[3] == "amex <CARD> on file"
    assert "<CARD>" not in got[4]
    assert got[5] == "<CARD> mastercard test"


def test_luhn_column_matches_python(spark):
    """luhn_valid vs the python oracle over systematic digit strings
    (every checksum residue at several lengths + separator noise)."""
    from pg2kinesis_spark.functions.pii import luhn_valid

    cands = []
    for ln in (12, 13, 15, 16, 19, 20):
        for last in range(10):
            cands.append("524441" + "7" * (ln - 7) + str(last))
    cands += ["4111-1111-1111-1111", "4111 1111 1111 1111", "no digits at all", ""]
    df = spark.createDataFrame([(c,) for c in cands], "cand string")
    got = {r.cand: r.ok for r in df.select("cand", luhn_valid(F.col("cand")).alias("ok")).collect()}
    for c in cands:
        assert got[c] == _py_luhn(c), c


def test_card_luhn_still_zero_shuffle(spark):
    df = spark.createDataFrame([(1, "x 4111 1111 1111 1111 y")], "doc_id long, text string")
    plan = pii_filter(df, max_pii=0)._jdf.queryExecution().executedPlan().toString()
    for op in ("Exchange", "Join", "BatchEvalPython"):
        assert op not in plan, op
