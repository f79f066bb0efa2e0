"""Unigram-LM subword tokenizer (Kudo 2018, "Subword Regularization",
the SentencePiece `unigram` trainer) — the second subword tokenizer
next to :mod:`bpe`, sharing its scale contract.

Where BPE greedily composes merges, the unigram model keeps a
probabilistic piece vocabulary and segments each word by Viterbi
(maximum-likelihood segmentation). Training is EM over the corpus's
(word, freq) SUFFICIENT STATISTIC — the same Heaps'-law-bounded table
``learn_bpe`` collects, so the distributed part is exactly one
word-count shuffle; E-steps run forward-backward per word TYPE
(weighted by freq) driver-side, and vocabulary pruning follows the
standard shrink schedule (drop the lowest-expected-count multi-char
pieces by a fixed factor per round until the target size).

Counting mirrors ``bpe_token_counts`` exactly: Viterbi is inherently
per-word-iterative, so Python runs ONLY over distinct word types (one
Arrow pandas_udf bounded by |vocabulary of the corpus|); the corpus
side is pure JVM — explode → broadcast (word → ids) join → per-doc
partial aggregate.

Determinism: EM is order-free arithmetic over sorted pieces; pruning
ties break on the piece string; Viterbi ties prefer the LONGER piece at
each boundary, then lexicographic — the same corpus always yields the
same model and the same segmentation.

The reference (/root/reference/pg2kinesis) has no tokenizer at all —
this is north-star pipeline surface, not parity.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.bpe import word_frequencies

#: id for characters never seen at train time (piece ids start at 1)
UNK_ID = 0
#: log-prob assigned to an unknown single character during Viterbi —
#: far below any real piece so unknowns never absorb neighbors
UNK_LOGP = -100.0


@dataclass(frozen=True)
class UnigramModel:
    """piece -> logprob (normalized over the final vocabulary) and
    piece -> stable id (sorted pieces, ids from 1; 0 is UNK)."""

    logprobs: dict = field(default_factory=dict)
    piece_ids: dict = field(default_factory=dict)
    max_piece_len: int = 8

    def viterbi_word(self, word: str) -> list:
        """ML segmentation of one word into vocabulary pieces.

        Unknown characters segment as themselves with UNK_LOGP. Ties
        prefer the LONGER piece ending at each position — pinned,
        mirrored in tests. (At a fixed end position, equal length means
        the identical piece, so no further tie-break exists.)
        """
        lp = self.logprobs
        n = len(word)
        best = [(-math.inf, 0, "")] * (n + 1)  # (score, start, piece)
        best[0] = (0.0, 0, "")
        for i in range(1, n + 1):
            cand = None
            for j in range(max(0, i - self.max_piece_len), i):
                piece = word[j:i]
                p = lp.get(piece)
                if p is None:
                    if i - j == 1:
                        p = UNK_LOGP
                    else:
                        continue
                s = best[j][0] + p
                if cand is None or (s, i - j) > (cand[0], cand[1]):
                    cand = (s, i - j, piece)
            best[i] = (cand[0], i - cand[1], cand[2])
        out, i = [], n
        while i > 0:
            _, j, piece = best[i]
            out.append(piece)
            i = j
        return list(reversed(out))

    def encode_word(self, word: str) -> list:
        ids = self.piece_ids
        return [ids.get(p, UNK_ID) for p in self.viterbi_word(word)]


def _forward_backward(word: str, freq: int, lp: dict, max_len: int, counts: dict) -> float:
    """Accumulate expected piece counts for one word type (log-domain
    forward-backward); returns the word's log-likelihood * freq."""
    n = len(word)

    def piece_lp(j: int, i: int):
        p = lp.get(word[j:i])
        if p is None and i - j == 1:
            return UNK_LOGP
        return p

    alpha = [-math.inf] * (n + 1)
    alpha[0] = 0.0
    for i in range(1, n + 1):
        acc = []
        for j in range(max(0, i - max_len), i):
            p = piece_lp(j, i)
            if p is not None and alpha[j] > -math.inf:
                acc.append(alpha[j] + p)
        if acc:
            m = max(acc)
            alpha[i] = m + math.log(sum(math.exp(a - m) for a in acc))
    if alpha[n] == -math.inf:
        return 0.0
    beta = [-math.inf] * (n + 1)
    beta[n] = 0.0
    for j in range(n - 1, -1, -1):
        acc = []
        for i in range(j + 1, min(n, j + max_len) + 1):
            p = piece_lp(j, i)
            if p is not None and beta[i] > -math.inf:
                acc.append(p + beta[i])
        if acc:
            m = max(acc)
            beta[j] = m + math.log(sum(math.exp(a - m) for a in acc))
    z = alpha[n]
    for j in range(n):
        for i in range(j + 1, min(n, j + max_len) + 1):
            piece = word[j:i]
            p = lp.get(piece)
            if p is None:
                continue
            post = alpha[j] + p + beta[i] - z
            if post > -30:  # exp underflow guard; contributes < 1e-13
                counts[piece] = counts.get(piece, 0.0) + freq * math.exp(post)
    return freq * z


def learn_unigram_from_frequencies(
    word_freqs: list,
    vocab_size: int = 1000,
    max_piece_len: int = 8,
    seed_size_factor: int = 4,
    em_iters: int = 2,
    shrink: float = 0.75,
) -> UnigramModel:
    """Driver-side unigram training over the bounded (word, freq) table.

    Seed = all substrings ≤ max_piece_len ranked by corpus frequency
    (top vocab_size * seed_size_factor multi-char pieces + every single
    character, which is never pruned — segmentation must always exist).
    Then rounds of (EM × em_iters, prune to shrink × current) until the
    vocabulary fits vocab_size.
    """
    # ---- seed: substring frequencies
    sub_freq: dict = {}
    alphabet: set = set()
    for w, f in word_freqs:
        alphabet.update(w)
        n = len(w)
        for j in range(n):
            for i in range(j + 1, min(n, j + max_piece_len) + 1):
                piece = w[j:i]
                sub_freq[piece] = sub_freq.get(piece, 0) + f
    multi = sorted(
        (p for p in sub_freq if len(p) > 1),
        key=lambda p: (-sub_freq[p], p),
    )[: vocab_size * seed_size_factor]
    pieces = set(multi) | alphabet

    # uniform-ish init proportional to substring frequency
    total = sum(sub_freq[p] for p in pieces)
    lp = {p: math.log(sub_freq[p] / total) for p in pieces}

    while True:
        for _ in range(em_iters):
            counts: dict = {}
            for w, f in word_freqs:
                _forward_backward(w, f, lp, max_piece_len, counts)
            tot = sum(counts.values())
            if tot <= 0:
                break
            floor = 1e-10  # a piece never used this round keeps a floor
            lp = {
                p: math.log(max(counts.get(p, 0.0), floor) / tot) for p in lp
            }
        n_multi = sum(1 for p in lp if len(p) > 1)
        target_multi = max(0, vocab_size - len(alphabet))
        if n_multi <= target_multi:
            break
        keep = max(target_multi, int(n_multi * shrink))
        survivors = sorted(
            (p for p in lp if len(p) > 1), key=lambda p: (-lp[p], p)
        )[:keep]
        lp = {p: lp[p] for p in survivors} | {c: lp[c] for c in alphabet if c in lp}

    # renormalize over the final vocabulary
    m = max(lp.values())
    z = m + math.log(sum(math.exp(v - m) for v in lp.values()))
    lp = {p: v - z for p, v in lp.items()}
    piece_ids = {p: i + 1 for i, p in enumerate(sorted(lp))}
    return UnigramModel(logprobs=lp, piece_ids=piece_ids, max_piece_len=max_piece_len)


def learn_unigram(
    docs: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    max_word_types: int = 1_000_000,
    **kwargs,
) -> UnigramModel:
    """One distributed word-count shuffle, then driver-side EM over the
    bounded word-type table (the ``learn_bpe`` scale contract)."""
    wf = [
        (r["w"], r["freq"])
        for r in word_frequencies(docs, text_col, max_word_types).collect()
    ]
    return learn_unigram_from_frequencies(wf, vocab_size, **kwargs)


def _word_ids_table(docs: DataFrame, model: UnigramModel, text_col: str) -> DataFrame:
    """(w, ids): Viterbi over DISTINCT word types — the one Python
    stage, bounded by vocabulary size, same as bpe._word_ids_table."""

    @F.pandas_udf("array<int>")
    def _enc(words: pd.Series) -> pd.Series:
        return words.map(model.encode_word)

    wt = (
        docs.select(F.explode(F.split(text_col, " ")).alias("w"))
        .filter(F.col("w") != "")
        .distinct()
    )
    return wt.withColumn("ids", _enc("w"))


def unigram_token_counts(
    docs: DataFrame,
    model: UnigramModel,
    key_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(key_col, n_unigram_tokens): budget-true counts, same broadcast
    join + per-doc partial-agg plan as ``bpe_token_counts``."""
    word_n = _word_ids_table(docs, model, text_col).select("w", F.size("ids").alias("n"))
    words = docs.select(key_col, F.explode(F.split(text_col, " ")).alias("w")).filter(
        F.col("w") != ""
    )
    per_doc = (
        words.join(F.broadcast(word_n), "w")
        .groupBy(key_col)
        .agg(F.sum("n").alias("n_unigram_tokens"))
    )
    return (
        docs.select(key_col)
        .join(per_doc, key_col, "left")
        .select(
            key_col,
            F.coalesce("n_unigram_tokens", F.lit(0)).cast("long").alias("n_unigram_tokens"),
        )
    )
