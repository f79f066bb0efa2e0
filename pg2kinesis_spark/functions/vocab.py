"""Fixed-vocabulary tokenization — corpus-learned vocab, JVM-side encode.

Token counting against a REAL (learned, bounded) vocabulary is how a
training pipeline budgets data; the heuristic whitespace/BPE-regex
counters in text.py approximate it. This module encodes documents
against a word-level vocabulary ``(token, token_id)`` with
single-character fallback units, entirely with DataFrame operators.

Scale design
------------
* ``encode``: the OBVIOUS implementation (a Python trie/dict UDF) is
  the slow path; instead words are posexploded, id-mapped via a
  BROADCAST join against the vocab, OOV words decompose to their
  characters (fallback ids) in-row, and sequences reassemble with one
  doc_id-keyed sort-within-group collect. Everything stays in the JVM;
  the vocab rides once per executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# id layout: [0, 256) reserved for single-character fallback units
# (codepoint pmod 256 — the fake "byte" tier); learned words start at 256.
CHAR_BASE = 256


def encode(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """(doc_id, token_ids array<int>): vocab words -> their id; OOV words
    -> per-character fallback ids (codepoint % 256). Empty docs yield an
    empty array."""
    words = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    mapped = words.join(
        F.broadcast(vocab.select(F.col("token").alias("w"), "token_id")), "w", "left"
    )
    ids = F.when(
        F.col("token_id").isNotNull(), F.array(F.col("token_id"))
    ).otherwise(
        F.expr(f"transform(split(w, ''), c -> pmod(ascii(c), {CHAR_BASE}))")
    )
    seqs = (
        mapped.select("doc_id", "pos", ids.alias("ids"))
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.expr("transform(array_sort(collect_list(struct(pos, ids))), s -> s.ids)")
            ).alias("token_ids")
        )
    )
    # docs whose every word was filtered (empty text) still get a row
    return (
        docs.select("doc_id")
        .join(seqs, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("token_ids", F.expr("cast(array() as array<int>)")).alias(
                "token_ids"
            ),
        )
    )
