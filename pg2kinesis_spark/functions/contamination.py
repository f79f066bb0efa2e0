"""Eval-set decontamination: n-gram overlap between corpus and benchmarks.

The GPT-3 / PaLM-style leakage gate: a training document is contaminated
if it shares any word n-gram (n=13 in the GPT-3 appendix; configurable)
with an evaluation set. Standard last step before a corpus ships.

Scale design
------------
The eval side is SMALL (benchmarks are megabytes); the corpus is 100 TB.
So: distinct eval gram hashes -> broadcast; corpus grams are exploded
per row and consumed IMMEDIATELY by the broadcast hash semi-join — the
exploded stream never hits an exchange. The only shuffle in the plan is
the final distinct over flagged doc_ids (bounded by the corpus row
count, partial-aggregated map-side). Gram matching is on xxhash64(gram)
— 8 bytes broadcast per eval gram instead of the string.

Short-document rule: an eval doc shorter than n words contributes its
single full-length gram (its whole text), matching the published
protocol so short benchmark items still decontaminate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .repetition import _grams_expr


def _gram_hashes(df: DataFrame, n: int, id_col: str, out: str) -> DataFrame:
    """(id_col, gram xxhash64) — one row per gram occurrence."""
    grams = (
        f"if(size(ws) >= {n}, {_grams_expr(n, 'ws')}, array(concat_ws(' ', ws)))"
    )
    return (
        df.select(id_col, F.split("text", " ").alias("ws"))
        .select(id_col, F.explode(F.expr(grams)).alias("_g"))
        .select(id_col, F.xxhash64("_g").alias(out))
    )


def eval_gram_set(eval_df: DataFrame, n: int = 13, id_col: str = "eval_id") -> DataFrame:
    """Distinct gram hashes of the eval set (the broadcast side)."""
    return _gram_hashes(eval_df, n, id_col, "gram_h").select("gram_h").distinct()


def contaminated_ids(docs: DataFrame, eval_df: DataFrame, n: int = 13) -> DataFrame:
    """doc_ids sharing >= 1 n-gram with the eval set."""
    evals = eval_gram_set(eval_df, n)
    grams = _gram_hashes(docs, n, "doc_id", "gram_h")
    return (
        grams.join(F.broadcast(evals), "gram_h", "left_semi").select("doc_id").distinct()
    )


def decontaminate(docs: DataFrame, eval_df: DataFrame, n: int = 13) -> DataFrame:
    """Corpus minus contaminated documents (original rows preserved).

    The flagged-id side is typically tiny ("documents overlapping a
    benchmark") but is corpus-sized in the worst case, so it is NOT
    force-broadcast: with AQE on (session default) the runtime converts
    the anti join to broadcast exactly when the flagged set turns out
    small, without the OOM cliff a static hint would have.
    """
    flagged = contaminated_ids(docs, eval_df, n)
    return docs.join(flagged, "doc_id", "left_anti")
