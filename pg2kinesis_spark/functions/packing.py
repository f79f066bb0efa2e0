"""Sequence packing: lay a corpus out into fixed-length training chunks.

Implements concat-and-chunk packing (the GPT-style data layout): order
documents deterministically, concatenate their token streams, and cut
the stream every ``seq_len`` tokens. Each document is assigned the
global token offset where it starts; ``seq_id`` / ``seq_pos`` say which
training sequence the document begins in and where. Documents that span
a chunk boundary are flagged (``spans_boundary``) — the token-level
split happens downstream in the tokenizer, this operator produces the
layout.

Scale design
------------
The global order is (md5-hash of the key, key) — deterministic,
engine-reproducible, and uniformly distributed, so the coarse bucket
needed for the distributed cumulative sum is just the hash's high bits:
weakly monotone in the global order BY CONSTRUCTION, and uniformly
loaded (no sampling, no range-partitioner state). The cumsum is then
the standard two-phase scan: per-bucket token sums (tiny, collected),
prefix offsets on the driver (O(buckets)), broadcast back, window
cumsum WITHIN buckets in parallel. No single-partition window, no
persisted intermediate — both phases recompute the same deterministic
bucket. Same pattern as sampling.token_budget_select, keyed by hash
instead of score.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from .sampling import HASH60

# 60-bit hash -> high bits give 4096 order-preserving buckets.
_N_BUCKETS = 4096
_BUCKET_DIV = (1 << 60) // _N_BUCKETS


def pack_sequences(
    docs: DataFrame,
    n_tokens: Column,
    seq_len: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Assign every document its place in the packed token stream.

    Returns (key_col, n_tokens, start_offset, seq_id, seq_pos,
    spans_boundary); ``seq_id = start_offset DIV seq_len``, ``seq_pos =
    start_offset MOD seq_len``. Zero-token documents are dropped (they
    occupy no stream positions).
    """
    # md5 needs STRING/BINARY input; numeric keys hash via their decimal
    # rendering (cross-engine stable: DuckDB md5(x::VARCHAR) matches).
    h = F.expr(HASH60.format(x=f"cast({key_col} as string)"))
    df = (
        docs.select(F.col(key_col), n_tokens.cast("long").alias("n_tokens"))
        .filter(F.col("n_tokens") > 0)
        # Integer shift, not double division: (h / 2^48).cast('long')
        # rounds a hash within 2^12 of 2^60 UP to bucket 4096, which has
        # no offsets row -> the inner join would silently drop the doc.
        .withColumn("_bkt", F.shiftright(h, 48))
    )
    spark = docs.sparkSession
    sums = {
        r["_bkt"]: r["s"]
        for r in df.groupBy("_bkt").agg(F.sum("n_tokens").alias("s")).collect()
    }
    offsets, acc = [], 0
    for k in range(_N_BUCKETS):
        offsets.append((k, acc))
        acc += sums.get(k, 0)
    off = F.broadcast(
        spark.createDataFrame(offsets, "_bkt long, _off long")
    )
    w = W.partitionBy("_bkt").orderBy(h.asc(), F.col(key_col).asc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        df.join(off, "_bkt")
        .withColumn("_end", F.sum("n_tokens").over(w) + F.col("_off"))
        .withColumn("start_offset", F.col("_end") - F.col("n_tokens"))
        .withColumn("seq_id", F.expr(f"start_offset DIV {seq_len}"))
        .withColumn("seq_pos", F.expr(f"start_offset % {seq_len}"))
        .withColumn(
            "spans_boundary",
            F.expr(f"(_end - 1) DIV {seq_len}") != F.col("seq_id"),
        )
        .select(key_col, "n_tokens", "start_offset", "seq_id", "seq_pos", "spans_boundary")
    )
