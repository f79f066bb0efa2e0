"""Property tests for the north-star operators whose paths aren't
oracle-checkable (python-UDF simhash, seeded-plane SRP ANN), plus
planted-duplicate behavior checks for the dedup family."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions import dedup, multimodal, similarity, text
from pg2kinesis_spark.io import load_table


@pytest.fixture(scope="module")
def planted(spark):
    words = [f"word{i}" for i in range(40)]
    base = " ".join(words)
    near = " ".join(words[:-1] + ["changed"])  # one-word edit → jaccard ≈ 0.92
    other = "completely different words about spark shuffles and parquet files here"
    rows = [(0, base), (1, base), (2, near), (3, other)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates_planted(spark, planted):
    out = {r.keep_id: r.n_copies for r in dedup.exact_duplicates(planted).collect()}
    assert out[0] == 2  # docs 0 and 1 identical, survivor = min doc_id
    assert out[2] == 1 and out[3] == 1


def test_jaccard_identical_is_one(spark, planted):
    pairs = {(r.id1, r.id2): r.jaccard for r in dedup.jaccard_pairs(planted, n=3).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] > 0.5  # one-word edit keeps most 3-grams
    assert (0, 3) not in pairs  # disjoint shingles never pair


def test_minhash_estimates_jaccard(spark, planted):
    pairs = {(r.id1, r.id2): r.est_jaccard for r in dedup.minhash_lsh_pairs(planted, k=16, bands=4).collect()}
    assert pairs[(0, 1)] == 1.0  # identical docs: every minhash equal
    assert pairs.get((0, 2), 0) > 0.3  # near-dup collides on some band


def test_simhash_deterministic_and_discriminative(spark, planted):
    sig = {r.doc_id: r.simhash for r in dedup.simhash(planted).collect()}
    sig2 = {r.doc_id: r.simhash for r in dedup.simhash(planted).collect()}
    assert sig == sig2  # deterministic across runs
    assert sig[0] == sig[1]  # identical text → identical signature
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(sig[0], sig[2]) < ham(sig[0], sig[3])  # near-dup closer than unrelated


def test_hamming64_column(spark):
    df = spark.createDataFrame([(0b1011, 0b0001)], "a long, b long")
    assert df.select(dedup.hamming64(F.col("a"), F.col("b")).alias("h")).collect()[0].h == 2


def test_cosine_topk_blas_matches_jvm(spark, sf_small):
    # Same neighbors, same ranks, cosines within float64-vs-JVM ulp —
    # repartition forces several Arrow batches so the local-topk +
    # global-refine two-phase path is actually exercised.
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    jvm = {
        (r.query_id, r.rnk): (r.neighbor_id, r.cos)
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    blas = {
        (r.query_id, r.rnk): (r.neighbor_id, r.cos)
        for r in similarity.cosine_topk_blas(emb.repartition(7), queries, k=5).collect()
    }
    assert jvm.keys() == blas.keys()
    for key, (nid, cos) in jvm.items():
        bnid, bcos = blas[key]
        assert bnid == nid
        assert abs(bcos - cos) < 1e-9


def test_cosine_topk_blas_small_corpus(spark):
    # Corpus smaller than k and a query that exists in the corpus:
    # self-excluded, all remaining rows ranked.
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = similarity.cosine_topk_blas(emb, emb.filter(F.col("vec_id") == 0), k=5).collect()
    assert [(r.neighbor_id, r.rnk) for r in sorted(got, key=lambda r: r.rnk)] == [(1, 1), (2, 2)]


def test_ivf_int_ann_deterministic_and_recall(spark, sf_small):
    """The hash-checkable IVF (registered n15): centroids are exact
    integer arithmetic from a hash-seeded init, so two runs are
    bit-identical — no seed, no RNG; scores are the exact cosine; recall
    vs brute force stays useful at nprobe=4/16."""
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    c1 = similarity.ivf_int_centroids(emb, dim=64, n_centroids=8, n_iter=2)
    c2 = similarity.ivf_int_centroids(emb, dim=64, n_centroids=8, n_iter=2)
    assert c1 == c2  # bit-identical across runs
    assert all(isinstance(x, int) for cent in c1 for x in cent)
    brute5 = {(r.query_id, r.neighbor_id) for r in similarity.cosine_topk(emb, queries, k=5).collect()}
    brute_all = {
        (r.query_id, r.neighbor_id): r.cos
        for r in similarity.cosine_topk(emb, queries, k=50).collect()
    }
    ivf = similarity.ivf_int_ann_topk(emb, queries, dim=64, k=5, n_centroids=8, nprobe=4).collect()
    assert len(ivf) > 0
    for r in ivf:
        key = (r.query_id, r.neighbor_id)
        if key in brute_all:
            assert abs(brute_all[key] - r.cos) < 1e-12
    hits = sum(1 for r in ivf if (r.query_id, r.neighbor_id) in brute5)
    assert hits / len(brute5) > 0.3


def test_hash_sample_deterministic_and_disjoint(spark, sf_small):
    from pg2kinesis_spark.functions import sampling

    docs = load_table(spark, sf_small, "documents")
    s1 = {r.doc_id for r in sampling.hash_sample(docs, "text", 20).select("doc_id").collect()}
    s2 = {r.doc_id for r in sampling.hash_sample(docs, "text", 20).select("doc_id").collect()}
    assert s1 == s2  # reproducible across runs
    n = docs.count()
    assert 0.1 * n < len(s1) < 0.3 * n  # roughly 20%
    split = sampling.train_val_test_split(docs, "text")
    counts = {r.split: r["count"] for r in split.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # a 10% sample is a subset of the 20% sample (nested by construction)
    s10 = {r.doc_id for r in sampling.hash_sample(docs, "text", 10).select("doc_id").collect()}
    assert s10 <= s1


def test_token_budget_select_invariants(spark, sf_small):
    from pg2kinesis_spark.functions import sampling

    q = text.quality_score(load_table(spark, sf_small, "documents"))
    sel = sampling.token_budget_select(
        q, score=F.col("quality"), n_tokens=F.col("n_tokens"), budget=5000
    ).collect()
    assert sel
    assert max(r.cum_tokens for r in sel) <= 5000
    # selected set is the TOP of the quality ranking: its minimum quality
    # must be >= the max quality of the excluded docs (modulo the
    # boundary doc that didn't fit)
    chosen = {r.doc_id for r in sel}
    all_q = {r.doc_id: (r.quality, r.n_tokens) for r in q.collect()}
    worst_chosen = min(all_q[d][0] for d in chosen)
    better_excluded = [d for d, (qu, _) in all_q.items() if d not in chosen and qu > worst_chosen]
    # any better-scored excluded doc must be excluded only because the
    # budget was already exhausted at its rank — allow the boundary few
    assert len(better_excluded) <= 1


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "le chat et les des le la"), (2, "der hund und die nicht das")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.pred_lang for r in text.lang_id(df).collect()}
    assert out[1] == "fr" and out[2] == "de"


def test_media_features_deterministic(spark, planted):
    media = multimodal.synthetic_media(planted)
    feats = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    n = len(planted.collect()[0].text.encode())
    assert feats[0].n_bytes == n
    assert feats[0].width == (n % 640) + 1
    assert feats[0].height == (n % 480) + 1
    assert feats[0].checksum == feats[1].checksum  # identical content
    assert feats[0].checksum != feats[3].checksum


def test_media_real_decode_rejects_unsupported_mime(spark, planted):
    # synthetic media is raw utf-8 bytes — no known signature, so the
    # real-codec path must fail loudly inside the kernel under
    # errors="raise" (the real decode paths live in tests/test_codecs.py
    # / test_jpeg.py / test_gif.py) and quarantine under the default
    with pytest.raises(Exception, match="PNG/JPEG"):
        multimodal.extract_features(
            multimodal.synthetic_media(planted), fake=False, errors="raise"
        ).collect()
    rows = multimodal.extract_features(
        multimodal.synthetic_media(planted), fake=False
    ).collect()
    assert rows and all(
        r.width is None and "NotImplementedError" in r.decode_error for r in rows
    )


def test_frame_sample_shape(spark, planted):
    frames = multimodal.frame_sample(multimodal.synthetic_media(planted), every_n_bytes=16, max_frames=4)
    rows = frames.filter(F.col("media_id") == 0).orderBy("frame_idx").collect()
    assert [r.frame_idx for r in rows] == list(range(len(rows)))
    assert all(len(r.frame_bytes) <= 16 for r in rows)


def test_srp_tables_neardup_subset_and_recall(spark, sf_small):
    """Multi-table integer-quantized SRP (the registered n10 path): every
    returned pair is a true near-dup with the exact cosine, and multi-
    table OR-probing recovers a solid fraction of the brute-force set —
    highest for the closest pairs, which is what dedup cares about."""
    from pg2kinesis_spark.functions import similarity

    from pg2kinesis_spark.io import load_table

    emb = load_table(spark, sf_small, "embeddings")
    brute = {(r.id1, r.id2): r.cos for r in similarity.cosine_pairs(emb, min_cos=0.45).collect()}
    # the registered n10 operating point: 8 tables × 4 bits, seed 11
    approx = {
        (r.id1, r.id2): r.cos
        for r in similarity.srp_tables_neardup_pairs(
            emb, dim=64, min_cos=0.45, n_tables=8, n_bits=4, seed=11
        ).collect()
    }
    assert set(approx) <= set(brute)  # exact refine → no false positives
    for k, cos in approx.items():
        assert abs(brute[k] - cos) < 1e-12  # scores are the exact cosine
    if brute:
        assert len(approx) / len(brute) >= 0.6  # measured 5/7 sf0.001, 11/14 sf0.01
        close = {k for k, c in brute.items() if c >= 0.7}
        if close:
            assert len(close & set(approx)) / len(close) >= 0.5


def test_token_budget_null_scores_rank_last_not_lost(spark):
    """NULL scores must neither vanish through the bucket join nor jump
    the ranking: they sort after every scored doc (score desc ⇒ nulls
    last) and are selected only if budget remains."""
    from pg2kinesis_spark.functions import sampling

    rows = [(1, 10, 0.9), (2, 10, 0.5), (3, 10, None), (4, 10, 0.1)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long, score double")
    # budget fits everything → null-score doc included, ranked LAST
    sel = sampling.token_budget_select(
        df, score=F.col("score"), n_tokens=F.col("n_tokens"), budget=100
    ).orderBy("cum_tokens").collect()
    assert [r.doc_id for r in sel] == [1, 2, 4, 3]
    assert [r.cum_tokens for r in sel] == [10, 20, 30, 40]
    # budget exhausted before the null → null excluded, never mid-ranking
    sel2 = sampling.token_budget_select(
        df, score=F.col("score"), n_tokens=F.col("n_tokens"), budget=30
    ).orderBy("cum_tokens").collect()
    assert [r.doc_id for r in sel2] == [1, 2, 4]
