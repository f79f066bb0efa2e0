"""BM25 / TF-IDF search vs a pure-Python oracle."""

from __future__ import annotations

import math
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.search import (
    bm25_topk,
    build_postings,
)
from pg2kinesis_spark.io import load_table

QUERIES = {
    "qa": "the quick brown fox",
    "qb": "data pipeline quality",
    "qc": "zzzzqqqqxxxx",
}


def _tok(text: str) -> list[str]:
    return re.findall(r"[a-z0-9]+", text.lower())


def _py_bm25(docs: list[tuple[int, str]], query: str, k: int, k1=1.2, b=0.75):
    toks = {d: _tok(t) for d, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n if n else 0.0
    df = Counter()
    for ts in toks.values():
        df.update(set(ts))
    out = []
    qn = Counter(_tok(query))
    for d, ts in toks.items():
        tf = Counter(ts)
        s = 0.0
        for term, q_count in qn.items():
            if term not in tf:
                continue
            idf = math.log(max((n - df[term] + 0.5) / (df[term] + 0.5), 1.0))
            tfn = (tf[term] * (k1 + 1)) / (
                tf[term] + k1 * (1 - b + b * len(ts) / avgdl)
            )
            s += q_count * idf * tfn
        if s > 0:
            out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return load_table(spark, sf_small, "documents").limit(300).select("doc_id", "text")


@pytest.fixture(scope="module")
def pydocs(docs):
    return [(r["doc_id"], r["text"]) for r in docs.collect()]


def test_postings_tf_and_dl(spark):
    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b b? B."), (3, "")], ["doc_id", "text"]
    )
    got = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in build_postings(df).collect()
    }
    assert got[("a", 1)] == (2, 4)
    assert got[("b", 2)] == (3, 3)  # lowercased, punctuation stripped
    assert ("", 3) not in got and not any(d == 3 for _, d in got)


def test_bm25_matches_python_oracle(spark, docs, pydocs):
    got = bm25_topk(spark, docs, QUERIES, k=10)
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert "qc" not in by_q  # no matching docs -> no rows
    for qid in ("qa", "qb"):
        want = _py_bm25(pydocs, QUERIES[qid], 10)
        got_q = sorted(by_q.get(qid, []), key=lambda r: r["rnk"])
        assert [r["doc_id"] for r in got_q] == [d for d, _ in want], qid
        for r, (_, s) in zip(got_q, want):
            assert r["score"] == pytest.approx(s, rel=1e-9), qid


def test_bm25_plan_broadcasts_query_terms(spark, docs):
    plan = (
        bm25_topk(spark, docs, QUERIES, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_ignores_tokenless_docs(spark):
    """Token-less docs must not skew n_docs/avgdl: the corpus constants
    come from docs with dl > 0, so scores equal the oracle's over the
    token-bearing docs alone."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),
            (2, "alpha delta"),
            (3, ""),          # token-less
            (4, "...!!!"),    # tokenizer yields nothing
            (5, "beta beta gamma"),
            # enough alpha/beta-free docs that idf does not floor to 0
            (6, "delta epsilon zeta"),
            (7, "gamma delta epsilon"),
            (8, "zeta epsilon"),
        ],
        ["doc_id", "text"],
    )
    got = [(r["doc_id"], r["score"]) for r in bm25_topk(spark, docs, {"q": "alpha beta"}, k=3)
           .orderBy("rnk").collect()]
    tokened = [(d, t) for d, t in ((r["doc_id"], r["text"]) for r in docs.collect()) if _tok(t)]
    want = _py_bm25(tokened, "alpha beta", 3)
    assert [d for d, _ in got] == [d for d, _ in want] and got
    for (_, s), (_, w) in zip(got, want):
        assert s == pytest.approx(w, rel=1e-9)


def test_bm25_materialize_flag_bit_equal(spark, docs):
    """materialize=False (100 TB opt-out for the O(n_docs) dict-batch
    checkpoint) is bit-identical to the default — the checkpoint is a
    barrier, not a transform (VERDICT r12 item 5)."""
    a = bm25_topk(spark, docs, QUERIES, k=5).collect()
    b = bm25_topk(spark, docs, QUERIES, k=5, materialize=False).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_in_set_literal_escaping_roundtrip(spark):
    """The dict-batch IN-set literals are backslash-escaped: Spark's
    lexer treats adjacent string literals as CONCATENATION, so the old
    quote-doubling ('it''s') silently parses as 'its'. Unreachable
    through TOKEN_REGEX today ([a-z0-9]+); pinned so a future tokenizer
    widening cannot mis-parse (ADVICE r12)."""
    terms = ["it's", "back\\slash", "plain"]
    lit = ", ".join(
        "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'" for t in terms
    )
    df = spark.createDataFrame(
        [(t,) for t in terms + ["its", "other"]], ["t"]
    )
    got = {r["t"] for r in df.filter(F.expr(f"t IN ({lit})")).collect()}
    # quote-doubling would have matched 'its' instead of "it's"
    assert got == set(terms)
