"""Full-text keyword search: TF-IDF postings and Okapi BM25 top-k.

The standard lexical-retrieval stack for corpus curation (quality
sourcing, contamination checks against eval sets, targeted subset
selection). The reference system has no search operators; this module is
north-star surface like text.py / dedup.py.

Scale design
------------
* ``build_postings`` is the classic MapReduce inverted index as one
  declarative plan: tokenize → explode → per-(term, doc) count. The
  only shuffle is keyed by (term, doc_id); partial aggregation collapses
  repeated terms map-side, so the shuffle carries ~unique terms per doc,
  not tokens. Document frequency and length statistics derive from the
  postings with doc-local or term-local keys — no global hot key.
* ``bm25_topk`` joins QUERY terms (tiny — a handful of rows per query)
  to the postings with an explicit broadcast, so candidate scoring is a
  map-side hash probe against the term-partitioned postings; the only
  shuffles are the per-(query, doc) score sum and the salted two-phase
  top-k borrowed from similarity.py (no per-query reducer funnel).

BM25 uses the Robertson/Sparck-Jones idf with the standard +0.5
smoothing, floored at 0 (Lucene-style) so ultra-common terms cannot
contribute negative scores: idf = ln(max((N - df + .5)/(df + .5), 1)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .similarity import _topk_per_query

# Lowercased letter/digit runs: the tokenizer is intentionally simpler
# than text.BPE_REGEX (punctuation is never a search term).
TOKEN_REGEX = r"[a-z0-9]+"


def _tokens(col: str = "text"):
    return F.expr(
        f"filter(regexp_extract_all(lower({col}), '{TOKEN_REGEX}', 0), t -> t != '')"
    )


def build_postings(docs: DataFrame, term_filter: DataFrame | None = None) -> DataFrame:
    """Inverted index: one row per (term, doc_id) with the term count.

    Columns: term, doc_id, tf (count of term in doc), dl (doc length in
    tokens). dl rides along so scoring never re-joins the corpus.

    ``term_filter`` (a broadcastable (term) DataFrame) prunes the
    exploded stream IN-MAP before the aggregation — for a query batch,
    only the query's terms ever reach a shuffle.
    """
    # tokenize ONCE: dl rides the exploded rows as a grouping key (it is
    # functionally dependent on doc_id, so the key set is unchanged) —
    # no second tokenize pass, no doc_id self-join.
    toked = docs.select("doc_id", _tokens().alias("_toks"))
    exploded = toked.select(
        "doc_id", F.size("_toks").alias("dl"), F.explode("_toks").alias("term")
    )
    if term_filter is not None:
        exploded = exploded.join(F.broadcast(term_filter), "term", "semi")
    return (
        exploded.groupBy("term", "doc_id", "dl")
        .agg(F.count("*").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def _query_terms(spark: SparkSession, queries: dict[str, str] | DataFrame) -> DataFrame:
    """(query_id, term, qn) — qn = count of the term within the query."""
    if isinstance(queries, dict):
        qdf = spark.createDataFrame(list(queries.items()), ["query_id", "text"])
    else:
        qdf = queries
    return (
        qdf.select("query_id", F.explode(_tokens()).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("qn"))
    )


def bm25_score_expr(k1: float = 1.2, b: float = 0.75):
    idf = F.log(
        F.greatest(
            (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)),
            F.lit(1.0),
        )
    )
    tf_norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return F.col("qn") * idf * tf_norm


def bm25_topk(
    spark: SparkSession,
    docs: DataFrame,
    queries: dict[str, str] | DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    materialize: bool = True,
) -> DataFrame:
    """Top-k documents per query by BM25, built from ``docs`` in-plan.

    Returns (query_id, doc_id, score, rnk). Ties break on doc_id
    ascending (total order — engine-stable results).

    ``materialize=True`` lazily localCheckpoints the dict-batch
    (doc_id, dl, matched-terms) projection — one bounded row per
    document (dl long + the terms of THIS query batch that the doc
    contains), which three plan subtrees consume. That is the right
    call up to corpus sizes where O(n_docs) rows in executor storage
    (MEMORY_AND_DISK — degrades to spill, never dies) are acceptable;
    at the 100 TB tier pass ``materialize=False``: the projection stays
    lazy and each consumer recomputes the tokenize — the same flag
    contract as ``dsir_fit_select(materialize_grams=)`` and
    ``minhash_lsh_pairs(materialize_sig=)``. Scores are bit-identical
    either way (a checkpoint is a barrier, not a transform).

    One corpus tokenize (r12 opt round): for a dict query batch the
    query-term set is known on the driver, so the pruning filter is an
    in-row literal InSet inside the SAME projection that computes dl —
    the tokenize pass that used to run three times (candidate postings,
    per-term df, corpus constants) runs once, and the (doc_id, dl,
    matched-terms) projection it materializes is bounded by MATCHED
    tokens, never the corpus token stream (the thing that GC-killed the
    earlier full-postings checkpoint at 5M docs). A DataFrame query
    batch keeps the broadcast-semi path — executing an arbitrary query
    plan driver-side just to inline its terms would be worse.
    """
    terms: list[str] | None = None
    if isinstance(queries, dict) and all(
        isinstance(v, str) and v.isascii() for v in queries.values()
    ):
        # Driver-side query tokenize (r12 opt round): TOKEN_REGEX is
        # plain ASCII [a-z0-9]+, on which Python re and Java regex (and
        # lower()) agree exactly, so a handful of driver-known query
        # strings need no Spark job — the old path paid a
        # createDataFrame -> explode -> distinct -> collect wave
        # (~0.6 s) just to learn ~a dozen literals. Non-ASCII queries
        # keep the engine-side tokenizer (identical-by-construction).
        import re as _re
        from collections import Counter as _Counter

        counts = {
            qid: _Counter(_re.findall(TOKEN_REGEX, txt.lower()))
            for qid, txt in queries.items()
        }
        rows = [
            (qid, t, int(n))
            for qid, c in sorted(counts.items())
            for t, n in sorted(c.items())
        ]
        qterms = spark.createDataFrame(
            rows, "query_id string, term string, qn long"
        )
        terms = sorted({t for c in counts.values() for t in c})
    else:
        qterms = _query_terms(spark, queries)
    if isinstance(queries, dict):
        if terms is None:
            terms = sorted({
                r["term"]
                for r in qterms.select("term").distinct().collect()
            })
        toked = docs.select("doc_id", _tokens().alias("_toks"))
        if terms:
            # backslash escaping (the urls._sql_str convention):
            # doubled single quotes are NOT an escape to Spark's lexer —
            # adjacent string literals concatenate, so 'it''s' parses as
            # 'its'. Unreachable today (TOKEN_REGEX terms are [a-z0-9]+)
            # but a latent mis-parse if the tokenizer ever widens.
            lit = ", ".join(
                "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"
                for t in terms
            )
            matched = F.expr(f"filter(_toks, t -> t IN ({lit}))")
        else:
            matched = F.array().cast("array<string>")
        pruned = toked.select(
            "doc_id", F.size("_toks").alias("dl"), matched.alias("_qt")
        )
        if materialize:
            from pg2kinesis_spark.io import prefetch_checkpoint

            # r13: tokenize starts on the cluster while the driver
            # builds the postings/stats/rank plans (guide §2.6)
            pruned = prefetch_checkpoint(pruned.localCheckpoint(eager=False))
        postings = (
            pruned.select("doc_id", "dl", F.explode("_qt").alias("term"))
            .groupBy("term", "doc_id", "dl")
            .agg(F.count("*").alias("tf"))
            .select("term", "doc_id", "tf", "dl")
        )
        if terms:
            # ONE 1-row aggregate over the checkpointed projection
            # yields n_docs, avgdl AND per-term df (the terms are
            # driver literals, so df_t = Σ array_contains(_qt, t) —
            # the same integer the old postings-side
            # groupBy(term).count() produced, since a doc contributes
            # one postings row per contained term). The old shape ran
            # TWO extra aggregation subtrees over `pruned` (the consts
            # agg + the stats re-aggregation of postings) as separate
            # broadcast-build job waves; this is one job, and idf
            # still derives from the integer df inside the SAME JVM
            # expression (bm25_score_expr), so scores are
            # bit-identical (r12 opt round).
            # dl > 0: token-less docs never enter n_docs/avgdl (they
            # have no postings rows either).
            onerow = pruned.filter(F.col("dl") > 0).agg(
                F.count("*").alias("n_docs"),
                F.avg("dl").alias("avgdl"),
                *[
                    F.sum(F.array_contains("_qt", t).cast("long")).alias(f"_df_{i}")
                    for i, t in enumerate(terms)
                ],
            )
            stats = onerow.select(
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(t).alias("term"),
                            F.col(f"_df_{i}").alias("df"),
                        )
                        for i, t in enumerate(terms)
                    ])
                ).alias("_s"),
                "n_docs",
                "avgdl",
            ).select(
                F.col("_s.term").alias("term"),
                F.col("_s.df").alias("df"),
                "n_docs",
                "avgdl",
            # a term no document contains has df = 0 here where the
            # old groupBy simply had no row — it joins to zero
            # candidate postings either way
            ).filter(F.col("df") > 0)
            return _bm25_rank(postings, stats, qterms, k, k1, b)
        consts = (
            pruned.filter(F.col("dl") > 0)
            .agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
        )
    else:
        qset = qterms.select("term").distinct()
        # Prune the exploded token stream to the QUERY'S terms in-map
        # (broadcast semi) before any aggregation: df only matters for
        # the query's terms, so the full-corpus term table never exists
        # in this plan at all.
        postings = build_postings(docs, term_filter=qset)
        consts = (
            docs.select(F.size(_tokens()).alias("dl"))
            .filter(F.col("dl") > 0)
            .agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
        )
    stats = (
        postings.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(consts))
    )
    return _bm25_rank(postings, stats, qterms, k, k1, b)


def _bm25_rank(postings, stats, qterms, k, k1, b):
    # stats pruned to the query's terms BEFORE the join: a semi join
    # against the broadcast term set, then the surviving handful of
    # stats rows broadcast themselves — the full term table never
    # shuffles for a query batch.
    qstats = F.broadcast(
        stats.select("term", "df", "n_docs", "avgdl").join(
            F.broadcast(qterms.select("term").distinct()), "term", "semi"
        )
    )
    cand = postings.join(F.broadcast(qterms), "term").join(qstats, "term")
    scored = (
        cand.withColumn("_s", bm25_score_expr(k1, b))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_s").alias("score"))
        # Terms in >half the corpus idf-floor to 0 (Lucene semantics);
        # a doc matching ONLY such terms carries no ranking signal.
        .filter(F.col("score") > 0)
    )
    # _topk_per_query orders by `cos` desc — alias and restore.
    ranked = _topk_per_query(
        scored.withColumnRenamed("score", "cos"), k, neighbor="doc_id"
    )
    return ranked.withColumnRenamed("cos", "score").select(
        "query_id", "doc_id", "score", "rnk"
    )
