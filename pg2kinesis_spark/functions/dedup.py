"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Designed for the 100 TB shape of the problem:

- exact:     one shuffle on a 128-bit content hash (not the text itself —
             keys stay small), map-side partial agg.
- jaccard:   shingle-explode → self-join on shingle → pair-count. The
             classic skew hazard is stop-shingles; ``max_shingle_df``
             drops shingles appearing in more than N docs (they carry
             ~zero Jaccard signal but quadratic join cost).
- minhash:   K independent permutation mins computed as K aggregate
             columns over one shingle explode — one shuffle, signature
             rows are K·8 bytes regardless of document size.
- LSH:       band signatures → join on (band_idx, band_key): only
             collision candidates are ever paired; est_sim refines.
- simhash:   64-bit per doc via an Arrow-vectorized pandas UDF (the one
             operator here that genuinely wants per-token bit math).

All the non-UDF operators use the md5-based 60-bit word hash so a DuckDB
oracle can re-derive them exactly.
"""

from __future__ import annotations

import hashlib
import random

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH60 = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"
MERSENNE31 = 2147483647


def minhash_params(k: int = 16, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a·x + b) mod p."""
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31)) for _ in range(k)]


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Group by content hash; keep the smallest doc_id as survivor.

    Shuffles 16-byte keys, never the documents; partial aggregation
    halves the shuffle again. Output: one row per distinct content.
    NULL texts form ONE group (content_hash NULL, keep_id the smallest
    NULL-text doc_id): GROUP BY semantics, which oracle n5_dedup_exact
    checks. ``curate.curate_corpus`` instead keeps every NULL-text row.
    """
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (doc_id, shingle).

    The token array is projected ONCE before the n-gram transform:
    inlining ``split(text, ' ')`` inside the lambda re-splits the
    document for every gram position (O(words²) per doc — measured 3.5×
    slower at sf0.1; Catalyst does not hoist subexpressions across
    lambda boundaries).
    """
    base = docs.select("doc_id", F.split("text", " ").alias("ws"))
    grams = F.when(
        F.size("ws") >= n,
        F.expr(
            f"array_distinct(transform(sequence(1, size(ws) - {n - 1}),"
            f" i -> concat_ws(' ', slice(ws, i, {n}))))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select("doc_id", F.explode(grams).alias("shingle"))


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    min_jaccard: float = 0.0,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard for every candidate pair sharing a shingle.

    ``max_shingle_df`` is the scale lever: a shingle occurring in d docs
    creates O(d²) candidate rows, and high-frequency shingles are pure
    noise — cap them and the join cost drops from quadratic-in-corpus to
    quadratic-in-true-duplicate-cluster.
    """
    sh = shingles(docs, n)
    if max_shingle_df is not None:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_shingle_df).select("shingle")
        sh = sh.join(hot, "shingle", "left_anti")
    # sh feeds three consumers (sizes + both join sides) and is
    # recomputed for each — the explode is cheap codegen, and a persist
    # here would leak for the lifetime of the session (no safe unpersist
    # point once the lazy result escapes). At cluster scale, WRITE the
    # (doc_id, shingle) pairs to a table once and join that.
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "id1").withColumnRenamed("sz", "sz1"), "id1")
        .join(sizes.withColumnRenamed("doc_id", "id2").withColumnRenamed("sz", "sz2"), "id2")
        .select(
            "id1",
            "id2",
            (F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter"))).alias("jaccard"),
        )
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def _minhash_cols(k: int, seed: int) -> list[Column]:
    # SQL strings, not nested Column ops: every Column operator is a
    # py4j round trip, and k=16 permutations × ~6 ops each added ~0.2 s
    # of driver latency PER CALL (measured in the streaming-ingest
    # fixed-cost profile). One F.expr per permutation parses JVM-side.
    # L suffixes force int64 literals — a, b < 2^31 can overflow int32.
    return [
        F.expr(f"min(({a}L * _h + {b}L) % {MERSENNE31}L) AS mh{i}")
        for i, (a, b) in enumerate(minhash_params(k, seed))
    ]


def minhash_signatures(docs: DataFrame, n: int = 3, k: int = 16, seed: int = 7) -> DataFrame:
    """K-permutation MinHash signature per document (columns mh0..mh{k-1}).

    One explode + one groupBy: the shuffle carries (doc_id, shingle-hash)
    pairs only. The 60-bit shingle hash is projected ONCE, then the k
    permutations are cheap integer expressions over it — feeding the raw
    shingle into the k min() aggregates would recompute the md5 k times
    per shingle (partial aggregation evaluates each aggregate's input
    independently; measured 4.6× slower end-to-end at sf0.1). Documents
    with no shingles (< n words) get no row — callers union them back as
    their own singleton cluster if needed.
    """
    hm = (F.expr(HASH60.format(x="shingle")) % MERSENNE31).alias("_h")
    return shingles(docs, n).select("doc_id", hm).groupBy("doc_id").agg(*_minhash_cols(k, seed))


def _lsh_pairs_from_sig(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """Banding core over a signature DataFrame (doc_id, mh0..mh{k-1}).

    The band explode and candidate self-join carry ONLY
    (doc_id, band_idx, band_key) — ×bands narrow rows, never the k
    signature columns (which would multiply the band shuffle width by
    k ints per row). Signatures re-join just for the candidate pairs —
    a collision-rate-bounded set — to compute est_jaccard.
    """
    melted = _banded(sig, k, bands)
    a = melted.alias("a")
    b = melted.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    return _est_jaccard(cand, sig, k)


def _banded(sig: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc_id, band_idx, band_key) — the narrow band-explode rows.

    Built as ONE selectExpr string (parsed JVM-side) instead of
    bands × r nested Column ops — each Column operator is a py4j
    round trip and this runs in every micro-batch's driver path."""
    r = k // bands
    band_sql = ", ".join(
        "concat_ws(',', "
        + ", ".join(f"CAST(mh{band * r + j} AS STRING)" for j in range(r))
        + ")"
        for band in range(bands)
    )
    return sig.selectExpr(
        "doc_id", f"posexplode(array({band_sql})) AS (band_idx, band_key)"
    )


def _est_jaccard(cand: DataFrame, sig: DataFrame, k: int) -> DataFrame:
    """Re-join signatures for the candidate pairs only and score them.
    selectExpr strings for the same py4j-chatter reason as _banded.

    ``n_eq`` (matching-component count, 0..k) is the primary score
    column — an exact integer, so any downstream hash/oracle comparison
    is immune to engine float-rendering differences. ``est_jaccard`` is
    the derived ratio for API users."""
    s1 = sig.selectExpr("doc_id AS id1", *[f"mh{i} AS a_mh{i}" for i in range(k)])
    s2 = sig.selectExpr("doc_id AS id2", *[f"mh{i} AS b_mh{i}" for i in range(k)])
    eq = " + ".join(f"IF(a_mh{i} = b_mh{i}, 1, 0)" for i in range(k))
    return (
        cand.join(s1, "id1")
        .join(s2, "id2")
        .selectExpr(
            "id1",
            "id2",
            f"CAST(({eq}) AS INT) AS n_eq",
            f"({eq}) / {float(k)} AS est_jaccard",
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame, n: int = 3, k: int = 16, bands: int = 4, seed: int = 7,
    materialize_sig: bool = True,
) -> DataFrame:
    """Banded-LSH candidate pairs with MinHash-estimated similarity.

    Signature is split into ``bands`` bands of k/bands rows; docs
    colliding on any band become candidates (join on the band key — the
    only shuffle whose size depends on collision rate, not corpus²).

    The signature pipeline feeds three plan subtrees (banding + both
    sides of the est_jaccard re-join); ``materialize_sig=True`` (the
    default) lazily localCheckpoints it so the shingle explode + k-min
    aggregate run ONCE instead of three times (r12 opt round: measured
    1.9 s → 1.1 s on the sf0.1 curate chain, interleaved reps; the r8
    note that caching cost more predates the lazy-checkpoint form).
    The checkpointed rows are k·8 bytes/doc, held in executor storage
    for the plan's lifetime; pass ``materialize_sig=False`` to keep the
    plan fully lazy.
    """
    assert k % bands == 0
    sig = minhash_signatures(docs, n, k, seed)
    if materialize_sig:
        from pg2kinesis_spark.io import prefetch_checkpoint

        # r13: background-materialize the signature table while the
        # caller constructs the banding/join plans (guide §2.6; see
        # io.prefetch_checkpoint — same rows, overlapped schedule)
        sig = prefetch_checkpoint(sig.localCheckpoint(eager=False))
    return _lsh_pairs_from_sig(sig, k, bands)


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document via an Arrow-batched pandas UDF.

    Per-token 64-bit hashing + per-bit weight accumulation is bit-twiddling
    that column expressions express poorly (64 conditional sums per token)
    — the textbook case for the vectorized-Python escape hatch. Hamming
    distance between signatures then runs JVM-side.
    """
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            acc = [0] * bits
            for w in (t or "").split(" "):
                h = int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
                for i in range(bits):
                    acc[i] += 1 if (h >> i) & 1 else -1
            v = 0
            for i in range(bits):
                if acc[i] > 0:
                    v |= 1 << i
            # wrap to signed 64-bit for LongType
            out.append(v - (1 << 64) if v >= (1 << 63) else v)
        return pd.Series(out)

    return docs.select("doc_id", _simhash(F.col("text")).alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Population count of XOR — JVM-side hamming distance."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_segments(
    sig: DataFrame,
    max_hamming: int,
    bits: int = 64,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """The Manku pigeonhole melt shared by simhash_pairs and the
    cross-batch index probes (streaming media ingest): split the
    signature into max_hamming+1 disjoint bit segments and explode to
    (doc_id, simhash, *extra_cols, seg, key) — any pair within the
    distance agrees exactly on at least one (seg, key)."""
    s = max_hamming + 1
    base, rem = divmod(bits, s)
    segs, off = [], 0
    for i in range(s):
        w = base + (1 if i < rem else 0)
        if w >= 64:
            segs.append(F.col("simhash"))
        else:
            segs.append(
                F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(
                    F.lit((1 << w) - 1)
                )
            )
        off += w
    return sig.select(
        "doc_id",
        "simhash",
        *(extra_cols or []),
        F.posexplode(F.array(*segs)).alias("seg", "key"),
    )


def simhash_pairs(
    sig: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    max_bucket_df: int | None = None,
    block: str | None = None,
) -> DataFrame:
    """All (id1, id2, hamming) pairs within ``max_hamming`` bits — the
    multi-index scheme of Manku et al. (WWW 2007, near-duplicate web
    crawling): split the signature into d+1 disjoint bit segments; by
    pigeonhole any pair within distance d agrees EXACTLY on at least one
    segment, so segment-equality equi-joins generate a candidate set
    with no false negatives, and the JVM-side popcount filter removes
    the false positives. Exact result, never an all-pairs join.

    The segment join carries only (doc_id, simhash, seg, key) — two
    longs and two ints per row, (d+1)× rows. Bucket sizes follow
    N / 2^width per segment table; for corpora where 16-bit segments get
    hot, ``max_bucket_df`` drops buckets above the cap (trading the
    completeness guarantee for a cost bound, like jaccard_pairs'
    max_shingle_df) — the Manku permuted-table refinement (agree on
    s−d of s>d+1 narrower segments) is the exact alternative at that
    scale.

    ``block`` names an extra column in ``sig`` that rides every join
    key: only rows sharing the block value can pair, and the returned
    pairs carry the column. This is how per-frame video alignment works
    — blocking on frame_idx keeps ids verbatim (no arithmetic packing)
    AND shrinks candidate buckets by the block cardinality.
    """
    blk = [block] if block else []
    melted = simhash_segments(sig, max_hamming, bits=bits, extra_cols=blk)
    join_keys = blk + ["seg", "key"]
    if max_bucket_df is not None:
        ok = (
            melted.groupBy(*join_keys)
            .count()
            .filter(F.col("count") <= max_bucket_df)
            .select(*join_keys)
        )
        melted = melted.join(ok, join_keys)
    left = melted.select(
        F.col("doc_id").alias("id1"), F.col("simhash").alias("s1"), *join_keys
    )
    right = melted.select(
        F.col("doc_id").alias("id2"), F.col("simhash").alias("s2"), *join_keys
    )
    return (
        left.join(right, join_keys)
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", *blk, "s1", "s2")
        .distinct()
        .select(
            "id1", "id2", *blk, hamming64(F.col("s1"), F.col("s2")).alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def band_key_col() -> "Column":
    """The string a band-bloom hashes: one key per (band_idx, band_key)
    row of ``_banded`` output — shared by the bloom build (over an
    accepted batch's bands) and the probe (over a new batch's bands)."""
    return F.concat_ws(":", F.col("band_idx"), F.col("band_key"))


def lsh_pairs_incremental(
    spark,
    new_docs: DataFrame,
    sig_path: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    seed: int = 7,
    exclude_batch_id: int | None = None,
    band_bloom_bits=None,
    band_bloom_k: int = 7,
    old_sig_df: DataFrame | None = None,
    new_sig_df: DataFrame | None = None,
) -> DataFrame:
    """Daily-ingest dedup: candidate pairs TOUCHING a new batch, against
    a written ``minhash_signatures`` index at ``sig_path`` — the new
    batch is signed and banded once; the corpus contributes a
    column-pruned parquet scan of (doc_id, mh*) only. Emits new-vs-index
    plus new-vs-new pairs, ids canonicalized id1 < id2, so

        pairs(index docs) ∪ incremental(new batch) == pairs(all docs)

    (the invariant the tests pin). Caller contract: new doc_ids are not
    already in the index. Append the batch's signatures AFTER
    collecting these pairs — the index scan here is lazy and must not
    see the batch's own rows.

    ``band_bloom_bits`` (a bloom over the INDEX's (band_idx, band_key)
    rows — see ``functions.bloom``) prefilters the new batch's band
    rows before the index join: a band key the index has never banded
    cannot produce a candidate, so dropping definitely-absent rows
    leaves the pair set EXACTLY unchanged (test-pinned) while the
    index-side join probes only the maybe-colliding residue.
    Within-batch (new-vs-new) pairs are never filtered.

    ``new_sig_df``: pre-computed (ideally MATERIALIZED) signatures of
    the new batch. The plan references the new signatures three times
    (banding + both sides of the pair re-join); without a materialized
    input each reference re-runs the shingle+minhash pass over the
    batch text — the streaming ingest passes a localCheckpoint here and
    reuses it for the post-accept index write.
    """
    new_sig = (
        new_sig_df
        if new_sig_df is not None
        else minhash_signatures(new_docs, n, k, seed)
    )
    # explicit column pruning: the index may carry extra layout columns
    # (e.g. a batch_id partition from the streaming ingest)
    if old_sig_df is not None:
        # caller already read (and exclusion-filtered) the index — skip
        # the redundant per-batch schema inference of a second read
        old_raw = old_sig_df
    else:
        old_raw = spark.read.parquet(sig_path)
        if exclude_batch_id is not None and "batch_id" in old_raw.columns:
            # crash-replay idempotence for the streaming ingest: a
            # replayed batch must not see its own partially-written
            # index partition (partition-pruned scan, not a row filter).
            old_raw = old_raw.filter(F.col("batch_id") != exclude_batch_id)
    old_sig = old_raw.select("doc_id", *[f"mh{i}" for i in range(k)])
    mn = _banded(new_sig, k, bands)
    mo = _banded(old_sig, k, bands)
    a = mn.select(F.col("doc_id").alias("nid"), "band_idx", "band_key")
    if band_bloom_bits is not None:
        from pg2kinesis_spark.functions.bloom import bloom_hash_cols, maybe_seen_udf

        h1, h2 = bloom_hash_cols(band_key_col())
        maybe = maybe_seen_udf(spark, band_bloom_bits, band_bloom_k)
        a = a.withColumn("_m", maybe(h1, h2)).filter(F.col("_m")).drop("_m")
    b = mo.select(F.col("doc_id").alias("oid"), "band_idx", "band_key")
    cross = a.join(b, ["band_idx", "band_key"]).select(
        F.least("nid", "oid").alias("id1"), F.greatest("nid", "oid").alias("id2")
    )
    a2 = mn.select(F.col("doc_id").alias("id1"), "band_idx", "band_key")
    b2 = mn.select(F.col("doc_id").alias("id2"), "band_idx", "band_key")
    within = (
        a2.join(b2, ["band_idx", "band_key"]).filter(F.col("id1") < F.col("id2")).select("id1", "id2")
    )
    cand = cross.union(within).distinct()
    return _est_jaccard(cand, old_sig.unionByName(new_sig), k)
