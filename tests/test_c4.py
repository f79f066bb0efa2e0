"""C4 cleaning pipeline vs a pure-Python oracle."""

from __future__ import annotations

import re

import pytest

from pg2kinesis_spark.functions.c4 import (
    c4_clean,
    c4_line_filter,
    c4_page_filter,
    dedup_spans,
    duplicated_span_losers,
)
from pg2kinesis_spark.io import load_table

SPAN_A = "First shared sentence. Second shared sentence! Third shared one?"
DOCS = [
    (1, 'Good line with five words here.\nshort line.\nNo terminal punct line\nAnother fine sentence ends here!\nQuoted line ends so."'),
    (2, "one two three.\na b\n{ code }\nends with question mark?"),
    (3, f"{SPAN_A} Unique tail sentence one. And another unique sentence."),
    (4, f"Leading unique sentence zero. {SPAN_A} Trailing unique sentence two."),
    (5, "lorem ipsum dolor sit amet. More text follows here."),
    (6, ""),
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _py_line_filter(text: str, min_words: int = 3) -> str:
    out = []
    for l in text.split("\n"):
        r = l.rstrip(" ")
        if re.search(r'(\.|!|\?|")$', r) and len([w for w in l.split(" ") if w]) >= min_words:
            out.append(l)
    return "\n".join(out)


def _py_sents(text: str) -> list[str]:
    return [s for s in re.split(r"(?<=[.!?])\s+", text) if s]


def test_line_filter_matches_python(df):
    got = {r["doc_id"]: r["text"] for r in c4_line_filter(df).collect()}
    for doc_id, text in DOCS:
        assert got[doc_id] == _py_line_filter(text), doc_id


def test_page_filter_rules(spark):
    ok = "One full sentence here. Two full sentences here. Three now arrive. Four are present. Five to finish."
    rows = [
        (1, ok),
        (2, ok.replace("Four are present.", "contains lorem ipsum anyway.")),
        (3, ok + " also { brace"),
        (4, ok.replace("Three now arrive.", "has badword1 inside it.")),
        (5, "Too few sentences. Only two here."),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {r["doc_id"] for r in c4_page_filter(df).collect()}
    assert kept == {1}


def test_span_losers_first_occurrence_wins(df):
    losers = duplicated_span_losers(df, 3)
    got = {(r["doc_id"], r["pos"]) for r in losers.collect()}
    # SPAN_A = sentences 1-3 of doc 3 and sentences 2-4 of doc 4;
    # doc 3 (lower doc_id) wins, doc 4's occurrence loses at pos 2.
    assert (4, 2) in got
    assert not any(d == 3 for d, _ in got)


def test_dedup_spans_rewrites_loser_only(df):
    out = {r["doc_id"]: r["text"] for r in dedup_spans(df, 3).collect()}
    # winner unchanged (byte-identical)
    assert out[3] == DOCS[2][1]
    # loser: the three shared sentences are cut, unique ones survive
    assert "shared" not in out[4]
    assert "Leading unique sentence zero." in out[4]
    assert "Trailing unique sentence two." in out[4]
    # untouched docs byte-identical
    assert out[1] == DOCS[0][1]
    assert out[6 - 1] == DOCS[4][1]


def test_c4_clean_composes(df):
    out = c4_clean(df, min_sentences=2)
    kept = {r["doc_id"]: r["text"] for r in out.collect()}
    assert 5 not in kept  # lorem ipsum
    # doc 2: the line filter drops the '{ code }' line (no terminal
    # punct), so the page filter sees a clean 2-sentence page — kept.
    assert 2 in kept and "{" not in kept[2]
    # doc 1 survives: line filter keeps 3 conforming lines (>= 2 sentences)
    assert 1 in kept


def test_c4_real_docs_smoke(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").limit(200).select("doc_id", "text")
    # the synthetic corpus has NO terminal punctuation: the honest C4
    # verdict is that every page fails the line/page gates...
    assert c4_clean(docs, min_sentences=2).count() == 0
    # ...and span-dedup alone must pass punctuation-free docs through
    # byte-identical (each doc is a single "sentence" -> no 3-spans).
    out = {r["doc_id"]: r["text"] for r in dedup_spans(docs).collect()}
    for r in docs.collect():
        assert out[r["doc_id"]] == r["text"]
