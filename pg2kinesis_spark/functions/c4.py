"""C4-style corpus cleaning (Raffel et al. 2020, the public C4 recipe).

Three stages, mirroring the published pipeline:

* ``c4_line_filter`` — line-level rewrite: keep lines that end in a
  terminal punctuation mark and contain >= ``min_words`` words.
* ``c4_page_filter`` — page-level drops: fewer than ``min_sentences``
  sentences, "lorem ipsum", a curly brace ``{`` (source-code tell), or
  any blocklisted word.
* ``dedup_spans`` — the corpus-level rule: any 3-sentence span that
  occurs more than once in the corpus is kept ONLY at its first
  occurrence (ordered by doc_id, position); later occurrences are cut
  out of their documents.

Scale design
------------
Line and page rules are row-local lambda expressions — zero shuffle,
map-only at any size. Span dedup is inherently cross-document (that is
its point) and uses the minimal shuffle shape: spans are EXPLODED as
(xxhash64, doc_id, pos) — never the span text — de-duplicated with one
window over the hash (first occurrence wins), and surviving documents
are reassembled with a doc_id-keyed sort-within-group concat. Two
keyed shuffles total, both over narrow rows; span text never crosses
the wire (losers are re-derived per row at reassembly, winners keep
their original text).

Sentence boundaries are approximated by splitting after ``[.!?]`` —
the same approximation public C4 reimplementations use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tiny illustrative placeholder for C4's "List of Dirty, Naughty,
# Obscene or Otherwise Bad Words" (the real list is a public download;
# swap in via the blocklist parameter).
DEFAULT_BLOCKLIST = ("badword1", "badword2")

_TERMINAL = "(\\\\.|!|\\\\?|\")$"
# Used inside SQL string literals: \\s survives the SQL parser as \s.
_SENT_SPLIT = r"(?<=[.!?])\\s+"


def c4_line_filter(docs: DataFrame, min_words: int = 3) -> DataFrame:
    """Keep only lines ending in terminal punctuation with >= min_words
    words; lines are re-joined with \\n. Row-local, zero shuffle."""
    kept = F.expr(
        "array_join(filter(split(text, '\\n'),"
        f" l -> rtrim(l) rlike '{_TERMINAL}'"
        f" and size(filter(split(l, ' '), w -> w != '')) >= {min_words}),"
        " '\\n')"
    )
    return docs.withColumn("text", kept)


def c4_page_filter(
    docs: DataFrame,
    min_sentences: int = 5,
    blocklist: tuple[str, ...] = DEFAULT_BLOCKLIST,
) -> DataFrame:
    """Drop pages: < min_sentences sentences, 'lorem ipsum', '{', or any
    blocklisted word (case-insensitive, word-boundary). Zero shuffle."""
    n_sent = F.size(
        F.expr(f"filter(split(text, '{_SENT_SPLIT}'), s -> s rlike '[.!?]\\\"?\\\\s*$')")
    )
    cond = (
        (n_sent >= min_sentences)
        & ~F.lower("text").contains("lorem ipsum")
        & ~F.col("text").contains("{")
    )
    if blocklist:
        pat = "(?i)\\b(" + "|".join(blocklist) + ")\\b"
        cond = cond & ~F.col("text").rlike(pat)
    return docs.filter(cond)


def _spans(docs: DataFrame, span: int) -> DataFrame:
    """(doc_id, pos, span_h): xxhash64 of each ``span``-sentence window.

    Windows are non-overlapping strides of one sentence (pos = index of
    the first sentence), matching the published rule of removing any
    occurrence of a repeated three-sentence span.
    """
    sents = F.expr(f"filter(split(text, '{_SENT_SPLIT}'), s -> s != '')")
    return (
        docs.select("doc_id", sents.alias("ss"))
        .select(
            "doc_id",
            F.expr(
                f"""if(size(ss) >= {span},
                  transform(sequence(1, size(ss) - {span} + 1),
                    i -> named_struct('pos', i,
                                      'h', xxhash64(concat_ws(' ', slice(ss, i, {span}))))),
                  array())"""
            ).alias("sp"),
        )
        .select("doc_id", F.explode("sp").alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("span_h"))
    )


def duplicated_span_losers(docs: DataFrame, span: int = 3) -> DataFrame:
    """(doc_id, pos) span occurrences to CUT: every occurrence of a
    repeated span except the corpus-wide first (min doc_id, then pos)."""
    from pyspark.sql import Window as W

    sp = _spans(docs, span)
    w = W.partitionBy("span_h").orderBy("doc_id", "pos")
    return (
        sp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select("doc_id", "pos")
        .distinct()
    )


def dedup_spans(docs: DataFrame, span: int = 3) -> DataFrame:
    """Cut non-first occurrences of repeated ``span``-sentence spans.

    Sentences covered by any losing span occurrence are removed; the
    document is reassembled from its surviving sentences (joined with a
    space). Documents with no losing spans pass through with their text
    UNCHANGED (no re-splitting artifacts).
    """
    losers = duplicated_span_losers(docs, span)
    cut = (
        losers.select(
            "doc_id", F.explode(F.expr(f"sequence(pos, pos + {span} - 1)")).alias("si")
        )
        .groupBy("doc_id")
        .agg(F.collect_set("si").alias("_cut"))
    )
    sents = F.expr(f"filter(split(text, '{_SENT_SPLIT}'), s -> s != '')")
    rebuilt = F.expr(
        "array_join(filter(transform(ss, (s, i) -> if(array_contains(_cut, i + 1), null, s)),"
        " s -> s is not null), ' ')"
    )
    # doc_id-keyed shuffle join (NOT broadcast: the loser set is
    # data-sized — proportional to corpus duplication).
    return (
        docs.join(cut, "doc_id", "left")
        .withColumn("ss", sents)
        .withColumn("text", F.when(F.col("_cut").isNull(), F.col("text")).otherwise(rebuilt))
        .drop("_cut", "ss")
    )


def c4_clean(
    docs: DataFrame,
    min_words: int = 3,
    min_sentences: int = 5,
    blocklist: tuple[str, ...] = DEFAULT_BLOCKLIST,
    span_dedup: bool = True,
) -> DataFrame:
    """The full C4 pipeline: line filter → page filter → span dedup."""
    out = c4_page_filter(c4_line_filter(docs, min_words), min_sentences, blocklist)
    return dedup_spans(out) if span_dedup else out
