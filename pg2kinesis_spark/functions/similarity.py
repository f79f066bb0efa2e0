"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``     — exact brute-force top-k: the correctness baseline.
                        Dot products are JVM-side zip_with/aggregate
                        lambdas in double precision (oracle-parity with
                        DuckDB's list_cosine_similarity on DOUBLE[]).
- ``srp_int_ann_topk`` /
  ``srp_tables_neardup_pairs``
                      — the scale path: integer-quantized multi-table
                        sign-random-projection LSH. Vectors hash to a
                        B-bit bucket per table; only same-bucket pairs
                        are scored, so the pair count drops from N² to
                        Σ bucket².
- ``ivf_int_ann_topk`` — IVF over deterministic integer k-means cells.

At 100 TB the brute-force join is a broadcast of the query side against
a partitioned corpus (queries ≪ corpus); srp buckets turn that into a
bucket-key equi-join. Both shapes avoid ever shuffling the corpus twice.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> Column:
    return F.sqrt(_dot(a, a))


def with_cosine(pairs: DataFrame, a: str = "a.embedding", b: str = "b.embedding") -> DataFrame:
    return pairs.withColumn("cos", _dot(a, b) / (_norm(a) * _norm(b)))


def cosine_pairs(emb: DataFrame, min_cos: float) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding-space near-dup).

    Norms are projected once per VECTOR before the join — computing them
    inside the pair expression would redo the O(dim) aggregate per PAIR
    (N× more often). Same double ops in the same order, so the cosines
    are bit-identical to ``with_cosine``.
    """
    e = emb.select("vec_id", "embedding").withColumn("nrm", _norm("embedding"))
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn(
            "cos",
            _dot("a.embedding", "b.embedding") / (F.col("a.nrm") * F.col("b.nrm")),
        )
        .filter(F.col("cos") >= min_cos)
        .select(F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2"), "cos")
    )


def _topk_per_query(scored: DataFrame, k: int, neighbor: str = "c.vec_id", n_salt: int = 32) -> DataFrame:
    """Two-phase per-query top-k (adds ``rnk`` 1..k).

    A plain ``row_number() over (partition by query_id)`` funnels every
    candidate for a query into ONE reducer — with queries ≪ corpus that
    is a whole-corpus-sized partition at 100 TB. Phase 1 salts the key
    by a hash of the neighbor id and takes a local top-k per
    (query, salt); phase 2 refines over ≤ n_salt·k rows per query.
    ``cos desc, neighbor id`` is a total order, so the result is
    byte-identical to the single-phase ranking.
    """
    order = (F.col("cos").desc(), F.col(neighbor))
    salted = scored.withColumn("_salt", F.pmod(F.hash(F.col(neighbor)), F.lit(n_salt)))
    w_local = W.partitionBy("query_id", "_salt").orderBy(*order)
    pre = salted.withColumn("_lrnk", F.row_number().over(w_local)).filter(F.col("_lrnk") <= k)
    w = W.partitionBy("query_id").orderBy(*order)
    return (
        pre.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .drop("_salt", "_lrnk")
    )


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine.

    ``queries`` (vec_id, embedding) is expected to be small — broadcast
    it so the corpus never shuffles; ranking is the salted two-phase
    top-k (no per-query reducer funnel).
    """
    q = F.broadcast(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qemb"))
        .withColumn("qn", _norm("qemb"))
    ).alias("q")
    # Norms once per row on each side, not per (corpus × query) pair —
    # bit-identical cosines, 3× fewer O(dim) aggregates in the join.
    c = emb.select("vec_id", "embedding").withColumn("cn", _norm("embedding")).alias("c")
    scored = (
        c.join(q, F.col("c.vec_id") != F.col("query_id"))
        .withColumn("cos", _dot("qemb", "c.embedding") / (F.col("qn") * F.col("cn")))
    )
    return _topk_per_query(scored, k).select(
        "query_id", F.col("c.vec_id").alias("neighbor_id"), "cos", "rnk"
    )


def cosine_topk_blas(emb: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k by cosine via one BLAS matmul per Arrow batch — the
    throughput path for the same semantics as ``cosine_topk``.

    The query matrix (queries ≪ corpus by contract) is collected once on
    the driver, row-normalized, and ships to each task in the
    mapInPandas closure (one copy per executor via task broadcast).
    Each corpus Arrow batch stacks to a (batch × dim) float64 matrix,
    computes all batch×queries cosines as a single ``E @ Qᵀ`` dgemm, and
    emits only its LOCAL top-k rows per query, so the Python→JVM return
    traffic is ≤ k·queries rows per batch regardless of batch size. The
    global refine then ranks ≤ batches·k rows per query — the same
    bounded two-phase shape as ``_topk_per_query``, never a
    corpus-sized per-query funnel.

    Cosines come out of float64 BLAS instead of the JVM lambda chain, so
    they can differ from ``cosine_topk`` in the last ulp (ranking flips
    only on exact-tie boundaries); tests pin neighbor-set equality and
    1e-9 cosine agreement at sf0.1.
    """
    import numpy as np
    import pandas as pd

    qrows = queries.select("vec_id", "embedding").collect()
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qm = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)

    def _local_topk(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            e = np.array(list(pdf["embedding"]), dtype=np.float64)
            e /= np.linalg.norm(e, axis=1, keepdims=True)
            sims = e @ qm.T  # (batch × queries), one dgemm
            out_q, out_n, out_c = [], [], []
            for j in range(len(qids)):
                s = sims[:, j]
                mask = ids != qids[j]  # exclude self, as cosine_topk does
                cand_ids, cand_s = ids[mask], s[mask]
                take = min(k, len(cand_s))
                if take == 0:
                    continue
                # top-k by (cos desc, neighbor_id asc) — lexsort keys
                top = np.lexsort((cand_ids, -cand_s))[:take]
                out_q.append(np.full(take, qids[j]))
                out_n.append(cand_ids[top])
                out_c.append(cand_s[top])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "cos": np.concatenate(out_c),
                    }
                )

    local = emb.select("vec_id", "embedding").mapInPandas(
        _local_topk, "query_id long, neighbor_id long, cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos", "rnk")
    )


def srp_int_planes(dim: int, n_planes: int, seed: int = 11) -> list[list[float]]:
    """Deterministic ±1 hyperplanes for integer-quantized SRP."""
    rng = random.Random(seed)
    return [[rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_planes)]


def _int_bucket(planes: list[list[float]], scale: int) -> Column:
    """B-bit bucket from signs of EXACT integer dot products.

    Each float is quantized to floor(x·scale) (an integer-valued double,
    exact in IEEE754 up to 2⁵³), and the hyperplane entries are ±1 — so
    the dot product is exact integer arithmetic and the sign, hence the
    bucket, is bit-identical across engines. Float-sign SRP
    cannot be oracle-checked because a last-ulp summation difference can
    flip a bucket; this variant can.
    """
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        arr = "array(" + ", ".join(f"{x:.1f}D" for x in plane) + ")"
        dot = F.expr(
            f"aggregate(zip_with(embedding, {arr}, (x, y) ->"
            f" floor(cast(x as double) * {scale}.0D) * y), 0.0D, (acc, v) -> acc + v)"
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << i)).otherwise(0)
    return bucket


def srp_tables_neardup_pairs(
    emb: DataFrame,
    dim: int,
    min_cos: float,
    n_tables: int = 4,
    n_bits: int = 4,
    seed: int = 11,
    scale: int = 10000,
) -> DataFrame:
    """Scale path for embedding near-dup, hash-checkable edition.

    Candidates are pairs colliding in ANY of ``n_tables`` independent
    ``n_bits``-bit sign-projection tables (recall 1-(1-p^b)^T, p the
    per-plane agreement probability); exact cosine then refines. The
    candidate join is a (table_idx, bucket) equi-join — collision-rate
    bound, never the N² self cross join of cosine_pairs, which survives
    only as the pytest recall oracle. At 100 TB, write the bucketed
    corpus once partitioned by (table_idx, bucket) and self-join that.
    """
    planes = srp_int_planes(dim, n_tables * n_bits, seed)
    b = emb.select("vec_id", "embedding")
    for t in range(n_tables):
        b = b.withColumn(f"bk{t}", _int_bucket(planes[t * n_bits : (t + 1) * n_bits], scale))
    melted = b.select(
        "vec_id",
        "embedding",
        F.posexplode(F.array(*[F.col(f"bk{t}") for t in range(n_tables)])).alias("tidx", "bucket"),
    )
    a = melted.alias("a")
    c = melted.alias("b")
    joined = a.join(
        c,
        (F.col("a.tidx") == F.col("b.tidx"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    scored = with_cosine(joined).select(
        F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2"), "cos"
    )
    # a pair colliding in several tables appears several times — dedup
    # BEFORE the threshold so each candidate is scored once.
    return (
        scored.groupBy("id1", "id2")
        .agg(F.first("cos").alias("cos"))
        .filter(F.col("cos") >= min_cos)
    )


def srp_int_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_tables: int = 4,
    n_bits: int = 4,
    seed: int = 11,
    scale: int = 10000,
) -> DataFrame:
    """Approximate top-k, hash-checkable edition.

    Candidates collide in ANY of ``n_tables`` integer-quantized
    sign-projection tables (exact integer dots → bit-identical buckets
    across engines, see _int_bucket); scoring and ranking then use the
    same double-precision cosine + (cos desc, neighbor_id) total order
    that the exact n9 baseline hash-matches with. The candidate join is
    a (table, bucket) equi-join with the small query side broadcast —
    at scale the corpus is written bucketed once and probed per batch.
    """
    planes = srp_int_planes(dim, n_tables * n_bits, seed)

    def bucketed(df: DataFrame) -> DataFrame:
        out = df.select("vec_id", "embedding")
        for t in range(n_tables):
            out = out.withColumn(f"bk{t}", _int_bucket(planes[t * n_bits : (t + 1) * n_bits], scale))
        return out.select(
            "vec_id",
            "embedding",
            F.posexplode(F.array(*[F.col(f"bk{t}") for t in range(n_tables)])).alias("tidx", "bucket"),
        )

    c = bucketed(emb).alias("c")
    q = F.broadcast(
        bucketed(queries).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qemb"),
            F.col("tidx").alias("qtidx"),
            F.col("bucket").alias("qbucket"),
        )
    ).alias("q")
    cand = (
        c.join(
            q,
            (F.col("c.tidx") == F.col("qtidx"))
            & (F.col("c.bucket") == F.col("qbucket"))
            & (F.col("c.vec_id") != F.col("query_id")),
        )
        # a pair colliding in several tables must be scored once
        .groupBy("query_id", F.col("c.vec_id").alias("vec_id"))
        .agg(F.first("qemb").alias("qemb"), F.first(F.col("c.embedding")).alias("cemb"))
    )
    scored = cand.withColumn("cos", _dot("qemb", "cemb") / (_norm("qemb") * _norm("cemb")))
    return _topk_per_query(scored, k, neighbor="vec_id").select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cos", "rnk"
    )


IVF_INT_SCALE = 10000


def _ivf_int_vec(col: str, scale: int = IVF_INT_SCALE) -> Column:
    """Embedding → non-negative exact-integer vector.

    floor(x·scale) is the same quantization the SRP family uses for
    cross-engine bit-identity; the +scale offset shifts [-scale, scale]
    to [0, 2·scale] so centroid updates can use truncating integer
    division with floor semantics on every engine (negative integer
    division truncates toward zero in Spark but not everywhere)."""
    return F.expr(
        f"transform({col}, x -> cast(floor(cast(x as double) * {scale}.0D) as bigint)"
        f" + {scale})"
    )


def _int_sqdist(a: str, b: str) -> Column:
    """Exact squared distance between bigint vectors (≤ dim·(2·scale)²
    ≈ 2.6e10 at dim 64 — far inside exact-integer range)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )


def ivf_int_centroids(
    emb: DataFrame,
    dim: int,
    n_centroids: int = 16,
    n_iter: int = 2,
    scale: int = IVF_INT_SCALE,
    train_limit: int | None = None,
) -> list[list[int]]:
    """Deterministic integer k-means: hash-seeded init + a FIXED number
    of Lloyd steps, all arithmetic exact integers — so ANY engine
    computes bit-identical centroids (the n10/n16 quantization recipe
    applied to n15's seeded-KMeans problem).

    * init: the ``n_centroids`` vectors with the smallest
      (md5-hash(vec_id), vec_id) — a cross-engine total order.
    * assign: argmin of exact integer squared distance, ties → min cid.
    * update: per-dimension integer sum div count (all non-negative, so
      truncation ≡ floor everywhere); an empty cell keeps its previous
      centroid.

    Each Lloyd step is one broadcast-assignment + one partial-agg
    groupBy; only the K centroid rows (K·dim ints) ever reach the
    driver — the same per-iteration shape MLlib's distributed Lloyd
    uses, so the 100 TB story is unchanged.
    """
    from pg2kinesis_spark.functions.dedup import HASH60

    spark = emb.sparkSession
    q = emb.select("vec_id", _ivf_int_vec("embedding", scale).alias("qv"))
    h = F.expr(HASH60.format(x="cast(vec_id as string)"))
    if train_limit is not None and train_limit > n_centroids:
        # standard sample-trained k-means: Lloyd runs on the train_limit
        # smallest (hash, vec_id) rows — a deterministic draw via
        # TakeOrdered (per-partition heaps), the seed order's superset,
        # so Lloyd cost is O(train_limit·K) instead of O(N·K). The
        # registered n15 query passes no train_limit and is unchanged.
        q = q.withColumn("_h", h).orderBy("_h", "vec_id").limit(train_limit).drop("_h")
    seed_rows = (
        q.withColumn("_h", h).orderBy("_h", "vec_id").limit(n_centroids).collect()
    )
    cents = [[int(x) for x in r.qv] for r in seed_rows]
    for _ in range(n_iter):
        cdf = F.broadcast(
            spark.createDataFrame(
                [(i, c) for i, c in enumerate(cents)], "cid int, cent array<bigint>"
            )
        )
        assigned = (
            q.crossJoin(cdf)
            .withColumn("_d", _int_sqdist("qv", "cent"))
            .groupBy("vec_id")
            # min over (distance, cid) structs = deterministic tie-break
            .agg(
                F.min(F.struct(F.col("_d"), F.col("cid"))).alias("m"),
                F.first("qv").alias("qv"),
            )
            .select(F.col("m.cid").alias("cid"), "qv")
        )
        sums = assigned.groupBy("cid").agg(
            F.count("*").alias("n"),
            *[F.sum(F.element_at("qv", i + 1)).alias(f"s{i}") for i in range(dim)],
        ).collect()
        new = {
            int(r["cid"]): [int(r[f"s{i}"]) // int(r["n"]) for i in range(dim)]
            for r in sums
        }
        cents = [new.get(i, cents[i]) for i in range(n_centroids)]
    return cents


def ivf_int_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_iter: int = 2,
    scale: int = IVF_INT_SCALE,
) -> DataFrame:
    """IVF ANN with fully deterministic (hash-checkable) cell structure:
    ``ivf_int_centroids`` quantizer, exact-integer cell assignment and
    probe selection, exact double cosine over the ORIGINAL embeddings
    for ranking (the same _dot/_norm chain the hash-green n9 baseline
    uses). Broadcast centroids, map-side assignment, candidate set =
    nprobe cells per query."""
    spark = emb.sparkSession
    cents = ivf_int_centroids(emb, dim, n_centroids, n_iter, scale)
    cdf = F.broadcast(
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], "cid int, cent array<bigint>"
        )
    )
    corpus = (
        emb.select("vec_id", "embedding", _ivf_int_vec("embedding", scale).alias("qv"))
        .crossJoin(cdf)
        .withColumn("_d", _int_sqdist("qv", "cent"))
        .groupBy("vec_id")
        .agg(
            F.min(F.struct(F.col("_d"), F.col("cid"))).alias("m"),
            F.first("embedding").alias("embedding"),
        )
        .select("vec_id", F.col("m.cid").alias("cid"), "embedding")
        .alias("c")
    )
    qj = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qemb"),
            _ivf_int_vec("embedding", scale).alias("qqv"),
        )
        .crossJoin(cdf)
        .withColumn("_d", _int_sqdist("qqv", "cent"))
    )
    w_probe = W.partitionBy("query_id").orderBy("_d", "cid")
    probes = (
        qj.withColumn("prnk", F.row_number().over(w_probe))
        .filter(F.col("prnk") <= nprobe)
        .select("query_id", "qemb", "cid")
        .alias("q")
    )
    scored = corpus.join(
        F.broadcast(probes),
        (F.col("c.cid") == F.col("q.cid")) & (F.col("c.vec_id") != F.col("query_id")),
    ).withColumn("cos", _dot("qemb", "c.embedding") / (_norm("qemb") * _norm("c.embedding")))
    return _topk_per_query(scored, k).select(
        "query_id", F.col("c.vec_id").alias("neighbor_id"), "cos", "rnk"
    )
