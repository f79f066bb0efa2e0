"""Unigram-LM tokenizer tests.

Independent checks: Viterbi against exhaustive-enumeration optimality
(every possible segmentation scored in pure Python), EM objective
monotonicity, lossless piece round-trip, and the bpe-style
exactly-one-Python-stage corpus plan pin.
"""

from __future__ import annotations

import itertools
import math

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions import unigram as ug
from pg2kinesis_spark.functions.bpe import word_frequencies
from pg2kinesis_spark.io import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return load_table(spark, sf_small, "documents").select("doc_id", "text")


@pytest.fixture(scope="module")
def wf(docs):
    return [(r["w"], r["freq"]) for r in word_frequencies(docs).collect()]


@pytest.fixture(scope="module")
def model(wf):
    return ug.learn_unigram_from_frequencies(wf, vocab_size=300)


def _all_segmentations(word: str, max_len: int):
    """Every way to split word into pieces of length <= max_len."""
    n = len(word)
    for cuts in itertools.product([0, 1], repeat=n - 1):
        pieces, start = [], 0
        ok = True
        for i, c in enumerate(cuts, 1):
            if c:
                if i - start > max_len:
                    ok = False
                    break
                pieces.append(word[start:i])
                start = i
        if not ok or n - start > max_len:
            continue
        pieces.append(word[start:])
        yield pieces


def _py_score(pieces, lp):
    s = 0.0
    for p in pieces:
        v = lp.get(p)
        if v is None:
            if len(p) != 1:
                return None
            v = ug.UNK_LOGP
        s += v
    return s


def test_viterbi_is_optimal_vs_exhaustive(model, wf):
    words = sorted({w for w, _ in wf if len(w) <= 10})[:60]
    assert words
    for w in words:
        got = model.viterbi_word(w)
        got_score = _py_score(got, model.logprobs)
        best = max(
            s
            for pieces in _all_segmentations(w, model.max_piece_len)
            if (s := _py_score(pieces, model.logprobs)) is not None
        )
        assert got_score == pytest.approx(best, abs=1e-9), w


def test_viterbi_roundtrip_and_unknown_chars(model):
    for w in ("spark", "aggregation", "xylophone"):
        assert "".join(model.viterbi_word(w)) == w
    # characters outside the alphabet segment as UNK singletons
    pieces = model.viterbi_word("abcéxyz")
    assert "".join(pieces) == "abcéxyz"
    ids = model.encode_word("é")
    assert ids == [ug.UNK_ID]


def test_model_is_deterministic_and_normalized(wf, model):
    again = ug.learn_unigram_from_frequencies(wf, vocab_size=300)
    assert again.logprobs == model.logprobs
    assert again.piece_ids == model.piece_ids
    total = sum(math.exp(v) for v in model.logprobs.values())
    assert total == pytest.approx(1.0, abs=1e-9)
    # every single character survives pruning (segmentation always exists)
    alphabet = {c for w, _ in wf for c in w}
    assert alphabet <= set(model.logprobs)
    # vocab respects the target: |multi-char pieces| + |alphabet| <= size
    n_multi = sum(1 for p in model.logprobs if len(p) > 1)
    assert n_multi + len(alphabet) <= max(300, len(alphabet))


def test_token_counts_match_python(spark, docs, model):
    got = {r.doc_id: r.n_unigram_tokens for r in ug.unigram_token_counts(docs, model).collect()}
    rows = {r.doc_id: r.text for r in docs.collect()}
    for d, text in rows.items():
        want = sum(len(model.viterbi_word(w)) for w in text.split(" ") if w != "")
        assert got[d] == want, d


def test_corpus_plan_is_jvm_side(spark, docs, model):
    plan = (
        ug.unigram_token_counts(docs, model)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1  # only the word-type Viterbi
    assert "BroadcastHashJoin" in plan
    for marker in ("BatchEvalPython", "MapInPandas", "CartesianProduct"):
        assert marker not in plan
