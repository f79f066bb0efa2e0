"""N-gram LM perplexity vs a pure-Python oracle implementing the same
pinned model definition (capped interpolated bigram, BOS prefix)."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from pg2kinesis_spark.functions.lm import (
    BOS,
    perplexity_filter,
    score_perplexity,
    train_ngram_lm,
)
from pg2kinesis_spark.io import load_table

L2, L1, L0 = 0.89, 0.10, 0.01


def _py_train(texts, max_vocab, max_bigrams):
    uni = Counter(w for t in texts for w in t.split(" ") if w)
    uni = dict(sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[:max_vocab])
    big = Counter()
    for t in texts:
        ws = [w for w in t.split(" ") if w]
        for prev, w in zip([BOS] + ws[:-1], ws):
            big[(prev, w)] += 1
    big = dict(
        sorted(big.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:max_bigrams]
    )
    ctx = Counter()
    for (prev, _), c in big.items():
        ctx[prev] += c
    return uni, big, ctx, sum(uni.values()), len(uni)


def _py_ppl(text, uni, big, ctx, T, V):
    ws = [w for w in text.split(" ") if w]
    if not ws:
        return 0, None
    nlp = []
    for prev, w in zip([BOS] + ws[:-1], ws):
        p = L0 / V
        if (prev, w) in big:
            p += L2 * big[(prev, w)] / ctx[prev]
        if w in uni:
            p += L1 * uni[w] / T
        nlp.append(-math.log(p))
    return len(ws), math.exp(sum(nlp) / len(nlp))


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return load_table(spark, sf_small, "documents").limit(250).select("doc_id", "text")


@pytest.fixture(scope="module")
def texts(docs):
    return {r["doc_id"]: r["text"] for r in docs.collect()}


@pytest.fixture(scope="module")
def lm(docs):
    return train_ngram_lm(docs, max_vocab=400, max_bigrams=3000)


def test_count_tables_match_python(docs, texts, lm):
    uni, big, ctx, T, V = _py_train(list(texts.values()), 400, 3000)
    got_uni = {r["w"]: r["c1"] for r in lm.unigrams.collect()}
    got_big = {(r["prev"], r["w"]): r["c2"] for r in lm.bigrams.collect()}
    assert got_uni == uni
    assert got_big == big
    assert (lm.total_tokens, lm.vocab_size) == (T, V)


def test_perplexity_matches_python(spark, docs, texts, lm):
    uni, big, ctx, T, V = _py_train(list(texts.values()), 400, 3000)
    got = {
        r["doc_id"]: (r["n_lm_tokens"], r["perplexity"])
        for r in score_perplexity(docs, lm).collect()
    }
    for did, text in texts.items():
        n, ppl = _py_ppl(text, uni, big, ctx, T, V)
        gn, gp = got[did]
        assert gn == n, did
        assert gp == pytest.approx(ppl, rel=1e-9), did


def test_in_domain_scores_lower_than_noise(spark, docs, lm):
    noise = spark.createDataFrame(
        [(900001, "zqx vbnk wpfj ttyu qqas lkhg zzzp mmro")], ["doc_id", "text"]
    )
    both = score_perplexity(docs.limit(20).union(noise), lm).collect()
    ppl = {r["doc_id"]: r["perplexity"] for r in both}
    noise_ppl = ppl.pop(900001)
    assert noise_ppl > max(ppl.values())


def test_empty_doc_scores_null_and_filter_drops_it(spark, lm):
    d = spark.createDataFrame([(1, ""), (2, "  ")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in score_perplexity(d, lm).collect()}
    assert rows[1]["n_lm_tokens"] == 0 and rows[1]["perplexity"] is None
    assert perplexity_filter(d, lm, max_perplexity=1e18).count() == 0


def test_filter_threshold_and_determinism(spark, docs, lm):
    scored = score_perplexity(docs, lm)
    thresh = scored.approxQuantile("perplexity", [0.5], 0.0)[0]
    kept = perplexity_filter(docs, lm, thresh)
    n = kept.count()
    assert 0 < n < 250
    assert kept.count() == n  # deterministic
    # every kept doc is at or under the threshold
    over = kept.join(scored, "doc_id").filter(f"perplexity > {thresh}").count()
    assert over == 0


def test_scoring_plan_is_broadcast_and_python_free(spark, docs, lm):
    plan = (
        score_perplexity(docs, lm)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # all three probability joins are broadcast probes; the ONLY
    # shuffle join is the final doc_id re-attach that gives empty docs
    # a row (narrow rows — the documented price of that semantic)
    assert plan.count("BroadcastHashJoin") == 3
    assert plan.count("SortMergeJoin") == 1
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                   "CartesianProduct"):
        assert marker not in plan, marker


def test_curate_perplexity_gate(spark, docs, lm):
    """curate_corpus(lm_model=..., max_perplexity=...) drops exactly the
    docs the standalone filter drops."""
    from pg2kinesis_spark.functions.curate import curate_corpus

    scored = score_perplexity(docs, lm)
    thresh = scored.approxQuantile("perplexity", [0.7], 0.0)[0]
    out = curate_corpus(
        docs, near_dup_jaccard=None, lm_model=lm, max_perplexity=thresh
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    want = {
        r["doc_id"]
        for r in scored.filter(f"perplexity <= {thresh}").collect()
    }
    assert kept == want


def test_train_materialize_flag_bit_equal(docs, lm):
    """materialize=False (the 100 TB two-pass lazy formulation) yields
    the SAME model as the checkpointed default — a checkpoint is a
    barrier, not a transform (ADVICE r12 / r13 opt round)."""
    lazy = train_ngram_lm(docs, max_vocab=400, max_bigrams=3000, materialize=False)
    assert {tuple(r) for r in lazy.unigrams.collect()} == {
        tuple(r) for r in lm.unigrams.collect()
    }
    assert {tuple(r) for r in lazy.bigrams.collect()} == {
        tuple(r) for r in lm.bigrams.collect()
    }
    assert (lazy.total_tokens, lazy.vocab_size) == (lm.total_tokens, lm.vocab_size)
