"""Fixed-vocab tokenization vs a pure-Python oracle."""

from __future__ import annotations

from collections import Counter

import pytest

from pg2kinesis_spark.functions.vocab import CHAR_BASE, encode
from pg2kinesis_spark.io import load_table


def _py_vocab(texts: list[str], size: int) -> dict[str, int]:
    cnt = Counter(w for t in texts for w in t.split(" ") if w)
    ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:size]
    return {w: CHAR_BASE + i for i, (w, _) in enumerate(ranked)}


def _py_encode(text: str, vocab: dict[str, int]) -> list[int]:
    out = []
    for w in text.split(" "):
        if not w:
            continue
        if w in vocab:
            out.append(vocab[w])
        else:
            out.extend(ord(c) % CHAR_BASE for c in w)
    return out


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return load_table(spark, sf_small, "documents").limit(200).select("doc_id", "text")


def _vocab(spark, docs, size):
    pyv = _py_vocab([r["text"] for r in docs.collect()], size)
    return pyv, spark.createDataFrame(
        [(w, i, 0) for w, i in pyv.items()], "token string, token_id int, freq long"
    )


def test_encode_matches_python(spark, docs):
    pyv, vocab = _vocab(spark, docs, 50)
    got = {r["doc_id"]: list(r["token_ids"]) for r in encode(docs, vocab).collect()}
    for r in docs.collect():
        assert got[r["doc_id"]] == _py_encode(r["text"], pyv), r["doc_id"]


def test_encode_edge_cases(spark):
    docs = spark.createDataFrame(
        [(1, "known unknownword known"), (2, ""), (3, "  ")], ["doc_id", "text"]
    )
    vocab = spark.createDataFrame([("known", 300, 2)], ["token", "token_id", "freq"])
    got = {r["doc_id"]: list(r["token_ids"]) for r in encode(docs, vocab).collect()}
    assert got[1][:1] == [300] and got[1][-1] == 300
    assert got[1][1:-1] == [ord(c) % 256 for c in "unknownword"]
    assert got[2] == [] and got[3] == []


def test_vocab_counts_and_plan(spark, docs):
    _, vocab = _vocab(spark, docs, 50)
    counts = encode(docs, vocab)
    assert counts.count() == 200
    plan = counts._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # encoding uses no Python stages
    for marker in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert marker not in plan
