"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169).

Selects raw-corpus documents that "look like" a small high-quality
target corpus, using importance weights over hashed n-gram features:

1. **Features**: each document is a bag of hashed unigrams+bigrams over
   lowercased whitespace words, bucketed into ``n_buckets`` by the
   cross-engine md5 60-bit hash (same recipe as ``sampling.hash_bucket``
   so a pure-Python/DuckDB oracle reproduces every bucket id).
2. **Fit**: bucket unigram distributions for the target and raw corpora
   (add-α smoothed); the per-bucket log-ratio
   ``log p_target(b) − log p_raw(b)`` is the feature weight.
3. **Score**: per-doc log importance weight = Σ_grams logratio(bucket).
4. **Resample**: Gumbel top-k — rank by ``logw + G`` where
   ``G = −ln(−ln(u))`` and ``u`` is a deterministic hash-uniform of the
   doc key. Gumbel top-k over log-weights IS sampling without
   replacement ∝ softmax(logw) (the paper resamples ∝ exp(logw)), and
   stays in log domain so tiny weights never underflow.

Scale shape: fitting is two partial-aggregated groupBy passes whose
result is at most ``n_buckets`` rows (10k by default — broadcastable by
construction, independent of corpus size). Scoring explodes grams but
consumes them against the BROADCAST log-ratio table and partial-aggs
back to one row per doc — one doc-keyed shuffle, no corpus-sized state.
Selection is the salted two-phase top-k (no global sort funnel).

The reference (/root/reference/pg2kinesis) has no analogue — this is
north-star training-data surface, not parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.dedup import HASH60
from pg2kinesis_spark.io import prefetch_checkpoint


def _gram_buckets(docs: DataFrame, text_col: str, n_buckets: int, id_col: str) -> DataFrame:
    """(id_col, bucket) — one row per unigram AND bigram occurrence.

    Grams are built in-row (array lambdas over the split word array —
    no self-join, no window); the only post-explode work is a hash that
    the bucket groupBy partial-aggregates immediately.
    """
    words = f"filter(split(lower({text_col}), ' +'), w -> w != '')"
    # let-bind the array so Catalyst doesn't re-split per element; the
    # zip_with pads to the LONGER input, so the last bigram is
    # concat(word, ' ', null) = null — filtered before the union.
    grams = (
        f"transform(array({words}), ws -> concat("
        "  ws,"
        "  filter(zip_with(ws, slice(ws, 2, size(ws)), (a, b) -> concat(a, ' ', b)),"
        "         g -> g is not null)"
        "))[0]"
    )
    # explode_outer: an empty/whitespace-only doc keeps one (id, null
    # bucket) row, so scoring needs no second pass to re-attach it
    return docs.select(F.col(id_col), F.explode_outer(F.expr(grams)).alias("gram")).select(
        id_col, F.expr(f"pmod({HASH60.format(x='gram')}, {n_buckets})").alias("bucket")
    )


def fit_dsir_logratios(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    raw_grams: DataFrame | None = None,
) -> DataFrame:
    """(bucket, logratio) for every bucket in [0, n_buckets) — the
    add-α smoothed log(p_target/p_raw) feature weights.

    Output is exactly ``n_buckets`` rows regardless of corpus size;
    callers broadcast it into scoring.

    ``raw_grams``: a precomputed ``_gram_buckets`` stream over ``raw``
    (any id column; only ``bucket`` is read). Callers that also SCORE
    the same corpus (``dsir_fit_select``) pass their materialized gram
    stream here so the raw-side explode runs once, not twice — the
    bucket counts are identical integers either way.
    """
    spark = target.sparkSession

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            _gram_buckets(df.select(F.lit(1).alias("_one"), text_col), text_col, n_buckets, "_one")
            .groupBy("bucket")
            .agg(F.count("*").alias(name))
        )

    full = spark.range(n_buckets).select(F.col("id").cast("long").alias("bucket"))
    t = counts(target, "tc")
    r = (
        raw_grams.groupBy("bucket").agg(F.count("*").alias("rc"))
        if raw_grams is not None
        else counts(raw, "rc")
    )
    joined = (
        full.join(t, "bucket", "left")
        .join(r, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("tc", F.lit(0)).alias("tc"),
            F.coalesce("rc", F.lit(0)).alias("rc"),
        )
    )
    # Totals via an UNPARTITIONED window over the bucket table instead
    # of a checkpoint + 1-row aggregate + broadcast cross-join (r12's
    # shape). The window's single partition holds EXACTLY n_buckets
    # rows by construction — bounded at any corpus scale, so the
    # usual no-global-window rule does not apply — and it folds the
    # totals into the SAME pass that projects the log-ratios: `joined`
    # is consumed once, so the checkpoint that protected its second
    # consumption is gone, and with it the construction-time physical
    # planning every lazy localCheckpoint pays (~0.7 s/ckpt profiled,
    # r13 opt round) plus the totals/broadcast job waves. Same summed
    # integers, same double arithmetic — logratios bit-identical
    # (n21 hash-pinned).
    w = W.partitionBy().rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    a = float(alpha)
    b = float(n_buckets)
    tt = F.sum("tc").over(w)
    rt = F.sum("rc").over(w)
    return joined.select(
        "bucket",
        (
            F.log((F.col("tc") + F.lit(a)) / (tt + F.lit(a * b)))
            - F.log((F.col("rc") + F.lit(a)) / (rt + F.lit(a * b)))
        ).alias("logratio"),
    )


def dsir_scores(
    docs: DataFrame,
    logratios: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    grams: DataFrame | None = None,
) -> DataFrame:
    """(id_col, logw): per-document log importance weight.

    Gram stream joins the broadcast log-ratio table map-side and
    partial-aggregates straight back to one row per doc. Documents with
    no grams (empty text) survive via explode_outer's null-bucket row
    (left-joined → NULL logratio → coalesced to 0 — no evidence either
    way), so there is no second docs-keyed join to re-attach them.

    ``n_buckets`` MUST match the fit's. (It is deliberately NOT
    inferred via logratios.count(): on a lazy log-ratio plan that
    count re-executes the whole fit — two corpus gram explosions — as
    a hidden side effect. Callers that hold a materialized table can
    pass its count.)

    ``grams``: a precomputed ``_gram_buckets(docs, ...)`` stream —
    the same rows this function would derive itself; callers that also
    fed the stream to the fit (``dsir_fit_select``) pass it here so
    the corpus explodes once across fit + score.
    """
    if grams is None:
        grams = _gram_buckets(docs, text_col, n_buckets, id_col)
    return (
        grams.join(F.broadcast(logratios), "bucket", "left")
        .groupBy(id_col)
        .agg(F.coalesce(F.sum("logratio"), F.lit(0.0)).alias("logw"))
    )


def gumbel_key(logw: Column, key_col: str) -> Column:
    """logw + Gumbel(0,1) noise derived deterministically from the key
    hash: u = (h+1)/2^60 ∈ (0, 1], G = −ln(−ln(u)). Cross-engine
    reproducible (the ``HASH60`` md5 recipe)."""
    h = F.expr(HASH60.format(x=f"cast({key_col} as string)"))
    u = (h + F.lit(1.0)) / F.lit(float(1 << 60))
    return logw - F.log(-F.log(u))


def dsir_select(
    docs: DataFrame,
    logratios: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    n_salt: int = 32,
    grams: DataFrame | None = None,
) -> DataFrame:
    """The full DSIR selection: score + Gumbel top-k resample.

    Returns (id_col, logw, gk) for the selected ``min(n, rows)`` docs —
    a without-replacement draw ∝ softmax(logw). Ranking runs as the
    salted two-phase top-n (no global single-reducer sort; (gk desc,
    id) is a total order so the result is identical to the single-phase
    ranking).
    """
    scored = dsir_scores(docs, logratios, text_col, id_col, n_buckets, grams=grams).withColumn(
        "gk", gumbel_key(F.col("logw"), id_col)
    )
    h = F.expr(HASH60.format(x=f"cast({id_col} as string)"))
    order = (F.col("gk").desc(), F.col(id_col).asc())
    salted = scored.withColumn("_salt", F.pmod(h, F.lit(n_salt)))
    w_local = W.partitionBy("_salt").orderBy(*order)
    pre = salted.withColumn("_lrnk", F.row_number().over(w_local)).filter(
        F.col("_lrnk") <= n
    )
    w_all = W.partitionBy().orderBy(*order)
    return (
        pre.withColumn("_rnk", F.row_number().over(w_all))
        .filter(F.col("_rnk") <= n)
        .drop("_salt", "_lrnk", "_rnk")
    )


def dsir_fit_select(
    docs: DataFrame,
    target: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    n_salt: int = 32,
    materialize_grams: bool = True,
) -> DataFrame:
    """Fit on (target, docs) then select from docs — the standard DSIR
    composition (bench_dsir, curate_corpus, n21) — with the raw-side
    gram stream computed ONCE.

    Composed as separate fit + select calls, the corpus gram explode
    (split + md5 per gram — the dominant cost of the whole operator)
    ran three times: the fit's raw counts, the fit's totals aggregate
    re-executing that subtree for its broadcast (fixed inside
    ``fit_dsir_logratios`` — r13 folds the totals into the log-ratio
    projection with a bounded n_buckets window, so the bucket table is
    consumed once with no checkpoint at all), and the scoring stream. This helper computes ``_gram_buckets(docs)``
    once and feeds the SAME stream to both the fit (``raw_grams`` —
    bucket counts are identical integers) and the scorer (``grams`` —
    identical rows, identical per-doc aggregation), so results are
    bit-equal to the unfused composition while the corpus explodes
    once.

    ``materialize_grams=True`` localCheckpoints the (id, bucket) stream
    — two longs per gram occurrence. The right call up to corpus sizes
    where O(token) intermediate storage is acceptable; at the 100 TB
    tier pass False: the stream stays lazy, fit + score each recompute
    it (2 passes instead of 3) and nothing token-sized is ever stored.
    """
    grams = _gram_buckets(docs, text_col, n_buckets, id_col)
    if materialize_grams:
        # r13: the gram explode (the operator's dominant job) starts on
        # the cluster while the driver builds the fit+select plans
        # (guide §2.6; see io.prefetch_checkpoint)
        grams = prefetch_checkpoint(grams.localCheckpoint(eager=False))
    lr = fit_dsir_logratios(
        target, docs, text_col, n_buckets, alpha, raw_grams=grams
    )
    return dsir_select(
        docs, lr, n, text_col, id_col, n_buckets, n_salt, grams=grams
    )
