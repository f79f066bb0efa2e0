"""Bloom prefilter: no false negatives ever (the correctness
invariant), plausible false-positive rate, sidecar replay exclusion,
and the CorpusIngest integration's accepted-set equivalence."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.bloom import (
    BloomSidecar,
    bloom_hash_cols,
    build_bloom,
    maybe_seen_udf,
)


def _hashed(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    h1, h2 = bloom_hash_cols(F.col("key"))
    return df.select("key", h1.alias("h1"), h2.alias("h2"))


def test_bloom_no_false_negatives_and_low_fp(spark):
    inserted = [f"doc-{i}" for i in range(5000)]
    other = [f"other-{i}" for i in range(5000)]
    bits = build_bloom(_hashed(spark, inserted), "h1", "h2", 1 << 20, 7)
    udf = maybe_seen_udf(spark, bits, 7)
    got = (
        _hashed(spark, inserted + other)
        .withColumn("m", udf("h1", "h2"))
        .collect()
    )
    seen = {r.key: r.m for r in got}
    # every inserted key MUST test positive
    assert all(seen[k] for k in inserted)
    # false-positive rate on fresh keys stays near the design point
    fp = sum(seen[k] for k in other)
    assert fp / len(other) < 0.02


def test_bloom_power_of_two_enforced(spark):
    with pytest.raises(ValueError):
        BloomSidecar("/tmp/x", m_bits=1000)
    with pytest.raises(ValueError):
        build_bloom(_hashed(spark, ["a"]), "h1", "h2", 1000, 7)


def test_sidecar_union_and_replay_exclusion(spark, tmp_path):
    sc = BloomSidecar(str(tmp_path / "bloom"), m_bits=1 << 16, k=5)
    assert sc.load_union() is None
    sc.write(_hashed(spark, ["a", "b"]), "h1", "h2", batch_id=0)
    sc.write(_hashed(spark, ["c"]), "h1", "h2", batch_id=1)
    udf_all = maybe_seen_udf(spark, sc.load_union(), 5)
    rows = {
        r.key: r.m
        for r in _hashed(spark, ["a", "b", "c"]).withColumn("m", udf_all("h1", "h2")).collect()
    }
    assert rows == {"a": True, "b": True, "c": True}
    # replay of batch 1 must NOT see batch 1's own bloom
    udf_ex = maybe_seen_udf(spark, sc.load_union(exclude_batch_id=1), 5)
    rows = {
        r.key: r.m
        for r in _hashed(spark, ["a", "c"]).withColumn("m", udf_ex("h1", "h2")).collect()
    }
    assert rows["a"] is True and rows["c"] is False


def test_ingest_accepted_set_identical_bloom_on_off(spark, tmp_path):
    """The prefilter is pure optimization: two ingests over the same
    batches produce byte-identical accepted doc_id sets with the bloom
    enabled and disabled, including a cross-batch exact dup."""
    import os

    from pg2kinesis_spark.streaming.corpus_ingest import start_corpus_ingest

    base = "the quick brown fox jumps over the lazy dog again and again today"
    b1 = [(1, base), (2, base), (3, "completely different text about spark clusters here")]
    b2 = [(10, base), (12, "a fresh unique document mentioning entirely new material")]

    def run(tag, **kw):
        src = str(tmp_path / f"landing_{tag}")
        out = str(tmp_path / f"curated_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        for rows in (b1, b2):
            spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            q = start_corpus_ingest(spark, src, out, ckpt, near_dup_jaccard=None, **kw)
            q.awaitTermination(120)
        got = {
            r.doc_id
            for r in spark.read.parquet(os.path.join(out, "accepted")).select("doc_id").collect()
        }
        return out, got

    out_on, with_bloom = run("on", bloom_bits=1 << 16)
    _, without = run("off", bloom_bits=None)
    assert with_bloom == without == {1, 3, 12}
    # the sidecar actually wrote per-batch blooms
    blooms = os.listdir(os.path.join(out_on, "bloom"))
    assert sorted(blooms) == ["bloom_0.bin", "bloom_1.bin"]


def test_band_bloom_pairs_exactly_unchanged(spark, tmp_path):
    """The band bloom drops only definitely-absent band rows, so the
    incremental pair set is EXACTLY the unfiltered one — including the
    est_jaccard values — on a corpus with planted cross-batch dups."""
    from pg2kinesis_spark.functions.bloom import bloom_hash_cols, build_bloom
    from pg2kinesis_spark.functions.dedup import (
        _banded,
        band_key_col,
        lsh_pairs_incremental,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    old_rows = [(i, f"{base} variant number {i}") for i in range(30)]
    new_rows = [(100, base + " today"), (101, "an entirely different new document here"),
                (102, old_rows[7][1])]
    old = spark.createDataFrame(old_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])
    sig_path = str(tmp_path / "sig")
    minhash_signatures(old).write.parquet(sig_path)

    h1, h2 = bloom_hash_cols(band_key_col())
    banded = _banded(minhash_signatures(old), 16, 4).select(
        h1.alias("h1"), h2.alias("h2")
    )
    bits = build_bloom(banded, "h1", "h2", 1 << 18, 7)

    def collect(**kw):
        return sorted(
            (r.id1, r.id2, round(r.est_jaccard, 9))
            for r in lsh_pairs_incremental(spark, new, sig_path, **kw).collect()
        )

    plain = collect()
    filtered = collect(band_bloom_bits=bits)
    assert filtered == plain
    assert any(102 in (p[0], p[1]) for p in plain)  # the planted clone pairs


def test_ingest_band_bloom_files_written(spark, tmp_path):
    """The streaming ingest writes per-batch band blooms alongside the
    sig index and still drops the cross-batch near-dup."""
    import os

    from pg2kinesis_spark.streaming.corpus_ingest import start_corpus_ingest

    base = "the quick brown fox jumps over the lazy dog again and again today"
    src, out, ckpt = (str(tmp_path / d) for d in ("landing", "curated", "ckpt"))
    b1 = [(1, base), (3, "completely different text about spark clusters here today")]
    b2 = [(11, base.replace("today", "tomorrow")),  # near-dup vs index
          (12, "a fresh unique document mentioning entirely new material")]
    for rows in (b1, b2):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = start_corpus_ingest(spark, src, out, ckpt, near_dup_jaccard=0.6,
                                bloom_bits=1 << 16)
        q.awaitTermination(120)
    got = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(out, "accepted")).select("doc_id").collect()
    }
    assert got == {1, 3, 12}  # 11 dropped as a cross-batch near-dup
    assert sorted(os.listdir(os.path.join(out, "bloom_bands"))) == [
        "bloom_0.bin",
        "bloom_1.bin",
    ]


def test_load_union_refuses_partial_coverage(tmp_path):
    """An index batch with no bloom file would make the union
    under-approximate (silent duplicate re-admission) — load_union must
    refuse and force the full-join fallback."""
    import numpy as np

    from pg2kinesis_spark.functions.bloom import BloomSidecar

    sc = BloomSidecar(str(tmp_path / "bloom"), m_bits=1 << 10, k=3)
    os.makedirs(sc.dir, exist_ok=True)
    with open(os.path.join(sc.dir, "bloom_1.bin"), "wb") as fh:
        fh.write(np.zeros((1 << 10) // 8, dtype=np.uint8).tobytes())
    # batch 0 has index data but no bloom -> refuse
    assert sc.load_union(require_batch_ids={0, 1}) is None
    # full coverage -> union loads
    assert sc.load_union(require_batch_ids={1}) is not None
    # the replayed batch itself is never required
    assert sc.load_union(exclude_batch_id=2, require_batch_ids={1}) is not None
    # extra bloom files beyond the index (crash before index write) are fine
    assert sc.load_union(require_batch_ids=set()) is not None


def test_ingest_bloom_coverage_gap_still_drops_duplicates(spark, tmp_path):
    """Batch 0 ingested with the bloom DISABLED (an index predating the
    sidecar), batch 1 with it enabled and carrying a duplicate of a
    batch-0 text: the partial sidecar must not prefilter (coverage
    check) and the duplicate must still be dropped."""
    from pg2kinesis_spark.streaming.corpus_ingest import start_corpus_ingest

    base = "the quick brown fox jumps over the lazy dog again and again today"
    src, out, ck = (str(tmp_path / d) for d in ("landing", "curated", "ck"))
    spark.createDataFrame(
        [(1, base), (2, "some completely different text entirely here")],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_corpus_ingest(spark, src, out, ck, near_dup_jaccard=None,
                            bloom_bits=None)  # no sidecar for batch 0
    q.awaitTermination(120)
    spark.createDataFrame(
        [(11, base), (12, "a fresh unique document with new material")],
        ["doc_id", "text"],
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_corpus_ingest(spark, src, out, ck, near_dup_jaccard=None,
                            bloom_bits=1 << 16)  # sidecar on, batch 0 uncovered
    q.awaitTermination(120)
    got = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(out, "accepted")).select("doc_id").collect()
    }
    assert got == {1, 2, 12}  # 11 dropped: exact dup of uncovered batch 0
