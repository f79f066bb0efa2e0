"""BPE subword tokenizer vs an independent pure-Python Sennrich oracle."""

from __future__ import annotations

from collections import Counter

import pytest

from pg2kinesis_spark.functions.bpe import (
    EOW,
    UNK_ID,
    bpe_token_counts,
    learn_bpe,
    learn_bpe_from_frequencies,
)
from pg2kinesis_spark.io import load_table


# --- oracle: the textbook O(V * M) algorithm, written independently of
# the incremental implementation under test -------------------------------

def _oracle_learn(texts: list[str], num_merges: int) -> list[tuple[str, str]]:
    wf = Counter(w for t in texts for w in t.split(" ") if w)
    vocab = {tuple(w) + (EOW,): f for w, f in wf.items()}
    merges = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for syms, f in vocab.items():
            for pair in zip(syms, syms[1:]):
                pairs[pair] += f
        if not pairs:
            break
        best = min(pairs, key=lambda p: (-pairs[p], p))
        merges.append(best)
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def _oracle_segment(word: str, merges: list[tuple[str, str]]) -> list[str]:
    syms = [*word, EOW]
    for a, b in merges:  # rank order; re-apply until the pair is gone
        while True:
            out, i, hit = [], 0, False
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                    hit = True
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
            if not hit:
                break
    return syms


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return load_table(spark, sf_small, "documents").limit(200).select("doc_id", "text")


@pytest.fixture(scope="module")
def texts(docs):
    return [r["text"] for r in docs.collect()]


@pytest.fixture(scope="module")
def model(docs):
    return learn_bpe(docs, num_merges=120)


def test_learned_merges_match_oracle(texts, model):
    assert list(model.merges) == _oracle_learn(texts, 120)


def test_segmentation_matches_rank_order_oracle(texts, model):
    """Greedy lowest-rank-first segmentation == apply merges in learn
    order (the classic equivalence BPE implementations rely on)."""
    words = {w for t in texts for w in t.split(" ") if w}
    merges = list(model.merges)
    for w in sorted(words)[:500]:
        assert model.segment_word(w) == _oracle_segment(w, merges), w


def test_encode_roundtrip_and_ids(texts, model):
    """Every id maps back to its symbol; concatenated symbols minus EOW
    reconstruct the original text's words."""
    id_to_tok = {i: t for t, i in model.token_ids.items()}
    w = "the"
    ids = model.encode_word(w)
    assert UNK_ID not in ids
    assert "".join(id_to_tok[i] for i in ids).replace(EOW, "") == w


def test_unknown_chars_map_to_unk():
    m = learn_bpe_from_frequencies([("ab", 3)], 2)
    ids = m.encode_word("aéb")  # é never seen at learn time
    assert UNK_ID in ids


def test_bpe_token_counts_match_encode(spark, docs, model):
    enc = {
        r["doc_id"]: sum(len(model.encode_word(w)) for w in r["text"].split(" ") if w)
        for r in docs.collect()
    }
    cnt = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_counts(docs, model).collect()
    }
    assert cnt == enc


def test_empty_docs_yield_zero(spark, model):
    d = spark.createDataFrame([(1, ""), (2, "  "), (3, "x")], ["doc_id", "text"])
    cnt = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_token_counts(d, model).collect()}
    assert cnt[1] == 0 and cnt[2] == 0 and cnt[3] > 0


def test_corpus_plan_is_jvm_side(spark, docs, model):
    """Python appears exactly once — on the DISTINCT word-type branch;
    the corpus side is explode + broadcast join + partial agg."""
    plan = bpe_token_counts(docs, model)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BroadcastHashJoin" in plan
    for marker in ("BatchEvalPython", "MapInPandas", "CartesianProduct"):
        assert marker not in plan
    # the Python stage's input is deduplicated word types, not the corpus
    assert "HashAggregate" in plan


def test_determinism_across_runs(docs):
    m1 = learn_bpe(docs, num_merges=40)
    m2 = learn_bpe(docs, num_merges=40)
    assert m1.merges == m2.merges and m1.token_ids == m2.token_ids


def test_budget_wiring(spark, docs, model):
    """bpe_token_counts feeds token_budget_select as the n_tokens column."""
    from pyspark.sql import functions as F

    from pg2kinesis_spark.functions.sampling import token_budget_select

    counts = bpe_token_counts(docs, model)
    scored = docs.join(counts, "doc_id").withColumn(
        "score", (F.length("text") % 100) / 100.0
    )
    sel = token_budget_select(
        scored, F.col("score"), F.col("n_bpe_tokens"), budget=5000
    ).collect()
    assert sel and sum(r["n_tokens"] for r in sel) <= 5000


def test_bpe_property_segmentation_partitions_word():
    """For arbitrary corpora: every word's segmentation concatenates
    back to word+EOW exactly (BPE only ever merges adjacent symbols),
    and learned merges are deterministic across runs."""
    from hypothesis import given, settings, strategies as st

    word = st.text(alphabet="abcde", min_size=1, max_size=12)
    corpus = st.lists(
        st.tuples(word, st.integers(min_value=1, max_value=50)),
        min_size=1,
        max_size=40,
    )

    @settings(max_examples=150, deadline=None)
    @given(corpus, st.integers(min_value=0, max_value=60))
    def prop(wf, n_merges):
        # collapse duplicate words (the real word-freq table is keyed)
        table = {}
        for w, f in wf:
            table[w] = table.get(w, 0) + f
        items = sorted(table.items())
        m1 = learn_bpe_from_frequencies(items, n_merges)
        m2 = learn_bpe_from_frequencies(items, n_merges)
        assert m1.merges == m2.merges
        for w, _ in items:
            syms = m1.segment_word(w)
            assert "".join(syms) == w + EOW
            assert all(s in m1.token_ids for s in syms)

    prop()


def test_bpe_heap_learner_speed_sanity():
    """8k merges over a synthetic 20k-type vocabulary completes fast —
    the lazy-deletion heap keeps per-merge cost near the touched words,
    not the full pair table."""
    import random
    import time

    rng = random.Random(3)
    wf = [
        (
            "".join(rng.choices("abcdefghijklmnop", k=rng.randint(3, 12))),
            rng.randint(1, 500),
        )
        for _ in range(20000)
    ]
    table = {}
    for w, f in wf:
        table[w] = table.get(w, 0) + f
    t0 = time.perf_counter()
    m = learn_bpe_from_frequencies(sorted(table.items()), 8000)
    wall = time.perf_counter() - t0
    assert len(m.merges) > 2000
    assert wall < 60, wall
