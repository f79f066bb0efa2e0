"""N-gram language-model perplexity scoring (the CCNet quality signal).

CCNet (Wenzek et al. 2020) ranks web documents by the perplexity of a
KenLM n-gram model trained on a trusted corpus — low-perplexity docs
read like the reference distribution, high-perplexity docs are noise.
This module is that signal as DataFrame operators: an interpolated
bigram model with explicit count caps, trained and applied with joins —
no KenLM, no Python in the hot path.

Model definition (pinned, so a pure-Python oracle can match exactly):

    P(w | prev) = l2 * c2(prev, w) / ca(prev)
                + l1 * c1(w) / T
                + l0 / V

where c2 is the (capped) bigram count table, ca its prev-marginal,
c1 the (capped) unigram table, T the total tokens in c1, V the unigram
vocabulary size, and missing counts contribute 0 to their term (the
l0 / V floor keeps P > 0). Documents are scored as
exp(-mean(ln P)) over their (BOS-prefixed) bigram stream.

Scale design
------------
* ``train_ngram_lm``: two explode + partial-agg counts with TakeOrdered
  caps (``max_vocab`` / ``max_bigrams``) — the model is BOUNDED by
  construction, so scoring can broadcast it. The caps are part of the
  model definition, not an approximation footnote: the marginal ca is
  derived from the capped bigram table, keeping the model
  self-consistent (and oracle-reproducible).
* ``score_perplexity``: bigram pairs are built IN-ROW (arrays_zip over
  the shifted token array — no window function, no self-join), exploded
  once, and probability terms attach via three broadcast joins. One
  doc-keyed partial agg produces the perplexity. The corpus is read
  once; everything else is map-side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BOS = "<s>"


@dataclass
class NgramLm:
    """Bounded count tables + the scalars that define the model."""

    unigrams: DataFrame  # (w, c1)
    bigrams: DataFrame  # (prev, w, c2)
    total_tokens: int  # T = sum(c1)
    vocab_size: int  # V = rows in unigrams
    l2: float = 0.89
    l1: float = 0.10
    l0: float = 0.01


def _bigram_pairs(text_col: str):
    """(prev, w) struct pairs with a BOS prefix, built in-row. The token
    array is let-bound once (transform(array(x), ws -> ...)[0] — the
    same anti-reinline discipline as repetition.py) so Catalyst cannot
    recompute the split per element."""
    return F.expr(
        f"""transform(array(filter(split({text_col}, ' '), w -> w != '')), ws ->
              transform(ws, (w, i) ->
                struct(IF(i = 0, '{BOS}', element_at(ws, i)) AS prev, w AS w))
            )[0]"""
    )


def train_ngram_lm(
    docs: DataFrame,
    text_col: str = "text",
    max_vocab: int = 100_000,
    max_bigrams: int = 2_000_000,
    l2: float = 0.89,
    l1: float = 0.10,
    l0: float = 0.01,
    materialize: bool = True,
) -> NgramLm:
    """Count-table training over the reference corpus. Caps keep both
    tables broadcastable; ties break on the token strings so the same
    corpus always yields the same model.

    One corpus pass (r12 opt round): the bigram stream contains every
    token exactly once as its ``w`` component (the BOS-prefixed pair
    per token), so the unigram table is the full bigram count table
    re-aggregated by ``w`` — identical integers to a separate token
    explode, without the second tokenize+explode pass over the train
    corpus. With ``materialize=True`` (the default) the full (uncapped)
    bigram count table is checkpointed once — O(distinct train-corpus
    bigrams), near-linear in train tokens for web text, so the default
    is right only for the documented reference/sample-corpus train
    inputs. ``materialize=False`` keeps the two-pass lazy formulation
    (the uni and big derivations each recompute the count table;
    nothing bigram-sized is ever stored) — the 100 TB-tier shape, same
    flag contract as ``dsir_fit_select(materialize_grams=)``. The model
    is bit-identical either way (a checkpoint is a barrier, not a
    transform).
    """
    big_full = (
        docs.select(F.explode(_bigram_pairs(text_col)).alias("p"))
        .select(F.col("p.prev").alias("prev"), F.col("p.w").alias("w"))
        .groupBy("prev", "w")
        .agg(F.count("*").alias("c2"))
    )
    if materialize:
        big_full = big_full.localCheckpoint(eager=False)
    uni = (
        big_full.groupBy("w")
        .agg(F.sum("c2").alias("c1"))
        .orderBy(F.col("c1").desc(), F.col("w"))
        .limit(max_vocab)
    )
    big = (
        big_full.orderBy(F.col("c2").desc(), F.col("prev"), F.col("w"))
        .limit(max_bigrams)
    )
    uni = uni.localCheckpoint(eager=False)
    big = big.localCheckpoint(eager=False)
    totals = uni.agg(
        F.sum("c1").alias("t"), F.count("*").alias("v")
    ).collect()[0]
    return NgramLm(
        unigrams=uni,
        bigrams=big,
        total_tokens=int(totals["t"] or 0),
        vocab_size=int(totals["v"] or 1),
        l2=l2,
        l1=l1,
        l0=l0,
    )


def score_perplexity(
    docs: DataFrame, lm: NgramLm, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(key_col, n_lm_tokens, avg_neg_logp, perplexity): interpolated
    bigram perplexity per document. Empty docs score NULL perplexity
    (no tokens to judge — let the caller decide their fate)."""
    # prev-marginal context counts from the capped bigram table: the
    # model stays self-consistent under the cap
    ctx = lm.bigrams.groupBy("prev").agg(F.sum("c2").alias("ca"))
    pairs = docs.select(
        key_col, F.explode(_bigram_pairs(text_col)).alias("p")
    ).select(key_col, F.col("p.prev").alias("prev"), F.col("p.w").alias("w"))
    joined = (
        pairs.join(F.broadcast(lm.bigrams), ["prev", "w"], "left")
        .join(F.broadcast(ctx), "prev", "left")
        .join(F.broadcast(lm.unigrams), "w", "left")
    )
    p = (
        F.lit(lm.l2)
        * F.coalesce(F.col("c2") / F.col("ca"), F.lit(0.0))
        + F.lit(lm.l1) * F.coalesce(F.col("c1") / F.lit(lm.total_tokens), F.lit(0.0))
        + F.lit(lm.l0 / lm.vocab_size)
    )
    scored = (
        joined.select(key_col, (-F.log(p)).alias("_nlp"))
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_lm_tokens"),
            F.avg("_nlp").alias("avg_neg_logp"),
        )
        .withColumn("perplexity", F.exp("avg_neg_logp"))
    )
    return (
        docs.select(key_col)
        .join(scored, key_col, "left")
        .select(
            key_col,
            F.coalesce("n_lm_tokens", F.lit(0)).alias("n_lm_tokens"),
            "avg_neg_logp",
            "perplexity",
        )
    )


def perplexity_filter(
    docs: DataFrame,
    lm: NgramLm,
    max_perplexity: float,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep documents whose LM perplexity is at most ``max_perplexity``
    (CCNet's head/middle selection is this with a percentile threshold;
    compute the threshold once with approxQuantile). Empty docs are
    dropped — there is nothing to vouch for them."""
    keep = score_perplexity(docs, lm, key_col, text_col).filter(
        F.col("perplexity") <= max_perplexity
    )
    return docs.join(keep.select(key_col), key_col, "left_semi")
