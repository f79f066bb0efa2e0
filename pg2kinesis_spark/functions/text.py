"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is JVM-side column expressions (split / higher-order
array lambdas / regexp) — no Python UDFs — so the operators stay inside
whole-stage codegen and scale linearly with input splits: per-document
work, no shuffle at all except where a groupBy is the semantics.

Cross-engine determinism: word hashing uses the top 60 bits of md5
(``conv(substr(md5(w),1,15),16,10)``), which DuckDB reproduces as
``('0x'||substr(md5(w),1,15))::BIGINT`` — so every operator here is
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Stopword marker lists per language for the n-gram/marker language-ID
# heuristic. Deliberately tiny and deterministic; real deployments swap in
# fastText-style models via the same operator shape (a pandas_udf).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "nicht", "das"),
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

# BPE-ish tokenizer: letter runs, digit runs, single punctuation marks.
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

WORD_HASH60 = "cast(conv(substr(md5({w}), 1, 15), 16, 10) as bigint)"


def _words(col: str = "text") -> Column:
    return F.split(F.col(col), " ")


def _in_list(arr: str, words: tuple[str, ...]) -> str:
    lit = ", ".join(f"'{w}'" for w in words)
    return f"size(filter({arr}, w -> w IN ({lit})))"


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish token counting (per-row, codegen'd)."""
    return docs.select(
        "doc_id",
        F.size(_words()).alias("n_tokens"),
        # Spark SQL literals escape-process backslashes; double them so the
        # regex engine sees \s (DuckDB literals pass backslashes through).
        F.size(
            F.expr(f"regexp_extract_all(text, '{BPE_REGEX.replace(chr(92), chr(92) * 2)}', 0)")
        ).alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_m"),
    )


def quality_exprs() -> dict[str, Column]:
    """Quality expressions over a projected ``ws`` (split words) column.

    Shared by ``quality_score`` and the fused single-scan ``curate.annotate``
    so both compute bit-identical values.
    """
    n = F.size("ws")
    stop = F.expr(_in_list("ws", STOPWORDS))
    avg_word = F.expr("aggregate(ws, 0L, (a, w) -> a + length(w))") / n
    score = (
        F.least(n / F.lit(100.0), F.lit(1.0)) * 0.3
        + (1 - stop / n) * 0.4
        + F.least(avg_word / F.lit(10.0), F.lit(1.0)) * 0.3
    )
    return {
        "n_tokens": n,
        "stopword_ratio": stop / n,
        "avg_word_len": avg_word,
        "quality": score,
    }


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / stopword-ratio / mean-word-length composite in [0, 1].

    The usual cheap pre-filter before expensive dedup stages: fully
    per-row, prunes to (doc_id, text) at the scan.
    """
    df = docs.select("doc_id", _words().alias("ws"))
    q = quality_exprs()
    return df.select("doc_id", *[c.alias(name) for name, c in q.items()])


def lang_exprs() -> tuple[dict[str, Column], Column]:
    """(per-language score columns, argmax prediction) over a projected
    ``ws`` column. Ties resolve to the alphabetically-first language
    (fixed CASE order) so results are stable across engines. Shared by
    ``lang_id`` and the fused ``curate.annotate``."""
    scores = {lang: F.expr(_in_list("ws", words)) for lang, words in sorted(LANG_MARKERS.items())}
    pred = None
    best = None
    for lang, s in scores.items():  # alphabetical: de, en, es, fr
        if pred is None:
            pred, best = F.lit(lang), s
        else:
            pred = F.when(s > best, F.lit(lang)).otherwise(pred)
            best = F.greatest(best, s)
    return scores, pred


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language ID with deterministic argmax.

    Scores each language by marker hits over the token bag; ties resolve
    to the alphabetically-first language (fixed CASE order), so results
    are stable across engines and partitionings.
    """
    df = docs.select("doc_id", _words().alias("ws"))
    scores, pred = lang_exprs()
    return df.select(
        "doc_id",
        *[s.alias(f"score_{lang}") for lang, s in scores.items()],
        pred.alias("pred_lang"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Position-weighted rolling document fingerprint.

    fp(doc) = Σ_i (i+1) · (hash60(w_i) mod 1000003) — an order-sensitive
    64-bit content fingerprint computed wholly in JVM expressions. Used
    for cheap exact-ish dedup keys and shard-stable sampling.
    """
    df = docs.select("doc_id", F.posexplode(_words()).alias("pos", "w"))
    h = F.expr(WORD_HASH60.format(w="w"))
    contrib = (F.col("pos") + 1) * (h % 1000003)
    return df.groupBy("doc_id").agg(F.sum(contrib).alias("fp"))
