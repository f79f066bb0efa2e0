"""Gopher repetition/shape filters vs a pure-Python oracle.

The oracle re-implements Rae et al. A1.1 semantics row-at-a-time in
Python and is compared against the distributed plans on (a) hand-crafted
edge-case docs and (b) the real sf0.001 documents table.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.repetition import (
    GOPHER_DEFAULTS,
    gopher_filter,
)
from pg2kinesis_spark.functions.text import STOPWORDS
from pg2kinesis_spark.io import load_table

EDGE_DOCS = [
    (1, "the cat sat on the mat and the cat sat on the mat"),
    (2, "alpha beta gamma delta epsilon zeta eta theta"),
    (3, "dup line\ndup line\nunique line\ndup line"),
    (4, ""),
    (5, "### ### ### ... ... word"),
    (6, "- bullet one\n- bullet two\nplain line"),
    (7, "trailing dots...\nand more…\nclean"),
    (8, "a a a a a a a a a a"),
    (9, "x y x y x y x y x y x y"),
    (10, "  spaced   out    words  "),
]


def _occurrences(text: str, needle: str) -> float:
    return (len(text) - len(text.replace(needle, ""))) / len(needle)


def _py_shape(text: str) -> dict:
    ws = text.split(" ")
    lines = text.split("\n")
    n_words = len(ws)
    n_lines = len(lines)
    safe = lambda num, den: (num / den) if den else 0.0
    alpha = sum(1 for w in ws if re.search("[A-Za-z]", w))
    stop_hits = sum(1 for w in ws if w in STOPWORDS)
    bullets = sum(1 for l in lines if re.match("^([-*•‣◦])", l.lstrip(" ")))
    ellipsis = sum(
        1 for l in lines if re.search("(\\.\\.\\.|…)$", l.rstrip(" "))
    )
    return {
        "n_words": n_words,
        "avg_word_len": safe(sum(len(w) for w in ws), n_words),
        "alpha_word_frac": safe(alpha, n_words),
        "stop_hits": stop_hits,
        "symbol_word_ratio": safe(
            _occurrences(text, "#") + _occurrences(text, "..."), n_words
        ),
        "bullet_line_frac": safe(bullets, n_lines),
        "ellipsis_line_frac": safe(ellipsis, n_lines),
    }


def _py_dup_lines(text: str) -> dict:
    lines = text.split("\n")
    from collections import Counter

    cnt = Counter(lines)
    total = len(lines)
    chars = sum(len(l) for l in lines)
    dup_lines = sum(c for c in cnt.values() if c > 1)
    dup_chars = sum(c * len(l) for l, c in cnt.items() if c > 1)
    return {
        "dup_line_frac": dup_lines / total if total else 0.0,
        "dup_line_char_frac": dup_chars / chars if chars else 0.0,
    }


def _grams(ws: list[str], n: int) -> list[str]:
    return [" ".join(ws[i : i + n]) for i in range(max(len(ws) - n + 1, 0))]


def _py_top_ngram(text: str, n: int) -> float:
    from collections import Counter

    dc = len(re.sub(r"\s+", "", text))
    if not dc:
        return 0.0
    cnt = Counter(_grams(text.split(" "), n))
    if not cnt:
        return 0.0
    top = max(c * len(g.replace(" ", "")) for g, c in cnt.items())
    return top / dc


def _py_dup_ngram(text: str, n: int) -> float:
    from collections import Counter

    ws = text.split(" ")
    dc = len(re.sub(r"\s+", "", text))
    if not dc:
        return 0.0
    grams = _grams(ws, n)
    cnt = Counter(grams)
    covered: set[int] = set()
    for i, g in enumerate(grams):
        if cnt[g] > 1:
            covered.update(range(i, i + n))
    return sum(len(ws[p]) for p in covered) / dc


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(EDGE_DOCS, ["doc_id", "text"])


def _py_gopher_ok(text: str, t: dict = GOPHER_DEFAULTS) -> bool:
    s = _py_shape(text)
    ok = (
        t["min_words"] <= s["n_words"] <= t["max_words"]
        and t["min_avg_word_len"] <= s["avg_word_len"] <= t["max_avg_word_len"]
        and s["symbol_word_ratio"] <= t["max_symbol_word_ratio"]
        and s["bullet_line_frac"] <= t["max_bullet_line_frac"]
        and s["ellipsis_line_frac"] <= t["max_ellipsis_line_frac"]
        and s["alpha_word_frac"] >= t["min_alpha_word_frac"]
        and s["stop_hits"] >= t["min_stop_hits"]
    )
    d = _py_dup_lines(text)
    ok = (
        ok
        and d["dup_line_frac"] <= t["max_dup_line_frac"]
        and d["dup_line_char_frac"] <= t["max_dup_line_char_frac"]
    )
    for n in (2, 3, 4):
        ok = ok and _py_top_ngram(text, n) <= t["max_top_ngram_char_frac"][n]
    for n in (5, 10):
        ok = ok and _py_dup_ngram(text, n) <= t["max_dup_ngram_char_frac"][n]
    return ok


def test_gopher_filter_matches_python_on_real_docs(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").limit(300)
    survivors = {r["doc_id"] for r in gopher_filter(docs).select("doc_id").collect()}
    for r in docs.select("doc_id", "text").collect():
        assert (r["doc_id"] in survivors) == _py_gopher_ok(r["text"]), r["doc_id"]


def test_gopher_filter_matches_python_on_edge_docs(edge_df):
    """Each gate alone, every other threshold wide open, keeps exactly
    the edge docs the Python oracle keeps (at the defaults the short
    edge docs all fail min_words first)."""
    wide = {
        "min_words": 0, "max_words": 10**9, "min_avg_word_len": 0.0,
        "max_avg_word_len": 1e9, "max_symbol_word_ratio": 1e9,
        "max_bullet_line_frac": 1e9, "max_ellipsis_line_frac": 1e9,
        "min_alpha_word_frac": 0.0, "min_stop_hits": 0,
        "max_dup_line_frac": 1e9, "max_dup_line_char_frac": 1e9,
        "max_top_ngram_char_frac": {2: 1e9, 3: 1e9, 4: 1e9},
        "max_dup_ngram_char_frac": {5: 1e9, 10: 1e9},
    }
    seen = set()
    for gate, value in GOPHER_DEFAULTS.items():
        t = dict(wide, **{gate: value})
        survivors = {
            r["doc_id"] for r in gopher_filter(edge_df, thresholds=t).select("doc_id").collect()
        }
        for doc_id, text in EDGE_DOCS:
            want = _py_gopher_ok(text, t)
            seen.add(want)
            assert (doc_id in survivors) == want, (gate, doc_id, text)
    assert seen == {True, False}


def test_gopher_filter_zero_shuffle(spark, edge_df):
    plan = gopher_filter(edge_df)._jdf.queryExecution().executedPlan().toString()
    for op in ("Exchange", "Join", "Aggregate"):
        assert op not in plan, op


def test_gopher_filter_returns_original_rows(edge_df):
    out = gopher_filter(edge_df.withColumn("extra", F.lit("x")))
    assert set(out.columns) == {"doc_id", "text", "extra"}


def test_gopher_parallelism_knob_identical_results(spark, edge_df):
    """gopher_filter(parallelism=N) — the barrier for single-row-group
    inputs — must pass exactly the same documents as the default
    zero-shuffle plan."""
    from pg2kinesis_spark.functions.repetition import gopher_filter

    words = " ".join(
        f"alpha{i} the beta{i} gamma{i} of delta{i} and epsilon{i}"
        for i in range(20)
    )
    docs = edge_df.unionByName(
        edge_df.sparkSession.createDataFrame(
            [(1000 + i, words + f" tail{i}") for i in range(5)],
            ["doc_id", "text"],
        )
    )
    a = {r.doc_id for r in gopher_filter(docs).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in gopher_filter(docs, parallelism=8).select("doc_id").collect()
    }
    assert a == b and a  # the clean docs pass; every edge doc agrees
