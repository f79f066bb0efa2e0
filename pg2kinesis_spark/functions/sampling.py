"""Deterministic sampling & selection for training-data pipelines.

- ``hash_sample``: reproducible p% sampling by content/key hash — the
  only sampling that is stable across engines, partitionings, cluster
  sizes, and reruns (``df.sample`` is none of those). The standard way
  to carve train/val/test splits at 100 TB: no shuffle, pure filter,
  fully pushdown-friendly.
- ``token_budget_select``: greedy quality-ranked selection under a total
  token budget — rank documents by a score, keep the prefix whose
  cumulative token count fits the budget. One sort + one running-sum
  window; at scale the sort is a range-partitioned global sort (Spark's
  default), not a single-partition collapse.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

HASH60 = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"


def hash_bucket(col: str, buckets: int = 100) -> Column:
    """Stable bucket in [0, buckets) from the md5-based 60-bit hash —
    cross-engine reproducible (DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT)."""
    return F.expr(f"pmod({HASH60.format(x=col)}, {buckets})")


def hash_sample(df: DataFrame, col: str, pct: int, buckets: int = 100) -> DataFrame:
    """Keep rows whose hash bucket < pct — a deterministic pct% sample."""
    return df.filter(hash_bucket(col, buckets) < pct)


def train_val_test_split(
    df: DataFrame, col: str, val_pct: int = 10, test_pct: int = 10
) -> DataFrame:
    """Adds a stable 'split' column: train/val/test by key hash."""
    b = hash_bucket(col, 100)
    return df.withColumn(
        "split",
        F.when(b < test_pct, F.lit("test"))
        .when(b < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def token_budget_select(
    docs: DataFrame,
    score: Column,
    n_tokens: Column,
    budget: int,
) -> DataFrame:
    """Highest-scoring documents whose cumulative token count fits
    ``budget`` (ties broken by doc_id for determinism).

    Returns (doc_id, n_tokens, score, cum_tokens) for the selected set.

    The cumulative sum over a global ordering is computed as a two-phase
    distributed scan (same pattern as the CDC xid prefix scan): assign a
    DETERMINISTIC coarse bucket that is weakly monotone in (score desc,
    doc_id) — scores are assumed in [0, 1] (quality scores are; values
    outside are clamped into the edge buckets, where the within-bucket
    window still orders them exactly) — sum tokens per bucket (tiny
    collected summary), add each bucket's carry-in offset back via a
    broadcast join, and cumsum WITHIN buckets in parallel. No
    single-partition window, and no persisted intermediate: the bucket
    is a pure column expression both phases recompute identically
    (range partitioning is sample-based and would need a leaked persist
    to keep the two phases consistent).
    """
    ranked = docs.select("doc_id", n_tokens.alias("n_tokens"), score.alias("score"))
    spark = docs.sparkSession
    n_buckets = 4096
    # NULL scores must land in the LAST bucket: `score desc` orders nulls
    # last, so that placement keeps the bucket map weakly monotone in the
    # global (score desc, doc_id) order. Without the guard, Spark's
    # null-skipping greatest() would silently route them to bucket 0 —
    # the TOP of the ranking — consuming budget ahead of every scored row.
    bucket = F.when(F.col("score").isNull(), F.lit(n_buckets - 1)).otherwise(
        F.least(
            F.lit(n_buckets - 1),
            F.greatest(F.lit(0), ((F.lit(1.0) - F.col("score")) * n_buckets).cast("long")),
        )
    )
    b = ranked.withColumn("_bkt", bucket)
    sums = {
        r._bkt: r.s
        for r in b.groupBy("_bkt").agg(F.sum("n_tokens").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for k in range(n_buckets):
        offsets[k] = acc
        acc += sums.get(k, 0)
    off = F.broadcast(
        spark.createDataFrame([(k, o) for k, o in offsets.items()], "_bkt long, _off long")
    )
    w = W.partitionBy("_bkt").orderBy(F.col("score").desc(), F.col("doc_id")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        b.join(off, "_bkt")
        .withColumn("cum_tokens", F.sum("n_tokens").over(w) + F.col("_off"))
        .filter(F.col("cum_tokens") <= budget)
        .drop("_bkt", "_off")
    )
