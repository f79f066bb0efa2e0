"""SimHash multi-index pair search vs brute force, and the incremental
LSH index path's union invariant."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.dedup import (
    lsh_pairs_incremental,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
    simhash_pairs,
)

MASK64 = (1 << 64) - 1


def _signed(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _brute_pairs(sigs: dict[int, int], d: int) -> set[tuple[int, int, int]]:
    ids = sorted(sigs)
    out = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((sigs[a] ^ sigs[b]) & MASK64).count("1")
            if h <= d:
                out.add((a, b, h))
    return out


@pytest.fixture(scope="module")
def planted(spark):
    # 150 random signatures plus 30 planted near-neighbors (≤3 flipped
    # bits off a base) — brute force is the oracle.
    rng = random.Random(3)
    sigs = {i: rng.getrandbits(64) for i in range(150)}
    nid = 1000
    for _ in range(30):
        base = sigs[rng.randrange(150)]
        v = base
        for _ in range(rng.randint(0, 3)):
            v ^= 1 << rng.randrange(64)
        sigs[nid] = v
        nid += 1
    df = spark.createDataFrame(
        [(i, _signed(v)) for i, v in sigs.items()], "doc_id long, simhash long"
    )
    return sigs, df


def test_simhash_pairs_match_brute_force(spark, planted):
    sigs, df = planted
    got = {
        (r["id1"], r["id2"], r["hamming"])
        for r in simhash_pairs(df, max_hamming=3).collect()
    }
    assert got == _brute_pairs(sigs, 3)


def test_simhash_pairs_exact_mode(spark, planted):
    # max_hamming=0 → one 64-bit segment: exact signature duplicates.
    sigs, df = planted
    got = {
        (r["id1"], r["id2"]) for r in simhash_pairs(df, max_hamming=0).collect()
    }
    assert got == {(a, b) for a, b, _ in _brute_pairs(sigs, 0)}


def test_simhash_bucket_cap_bounds_cost(spark):
    # 50 docs sharing segment 0 (low 16 bits) but far apart elsewhere:
    # the cap drops that bucket; the planted close pair (differing only
    # in a high bit) still surfaces through segment 1-3 buckets.
    rows = [(i, _signed((i << 32) | 0xBEEF)) for i in range(50)]
    rows += [(100, _signed(0xAAAA_0000_0000_0001)), (101, _signed(0x2AAA_0000_0000_0001))]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    capped = simhash_pairs(df, max_hamming=3, max_bucket_df=10).collect()
    got = {(r["id1"], r["id2"]) for r in capped}
    assert (100, 101) in got
    assert all(not (a < 50 and b < 50) for a, b in got)


def test_simhash_pipeline_consistency(spark, sf_small):
    from pg2kinesis_spark.io import load_table

    docs = load_table(spark, sf_small, "documents").limit(200)
    sig = simhash(docs.select("doc_id", "text"))
    pairs = simhash_pairs(sig, max_hamming=3).collect()
    sigs = {r["doc_id"]: r["simhash"] & MASK64 for r in sig.collect()}
    assert {
        (r["id1"], r["id2"], r["hamming"]) for r in pairs
    } == _brute_pairs(sigs, 3)


@pytest.fixture(scope="module")
def split_docs(spark, sf_small):
    from pg2kinesis_spark.io import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    med = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    return docs, docs.filter(F.col("doc_id") <= med), docs.filter(F.col("doc_id") > med)


def _pairset(df):
    return {
        (r["id1"], r["id2"], round(r["est_jaccard"], 6)) for r in df.collect()
    }


def test_incremental_union_equals_full(spark, split_docs, tmp_path):
    docs, old, new = split_docs
    path = str(tmp_path / "sig_idx")
    minhash_signatures(old).write.parquet(path)
    full = _pairset(minhash_lsh_pairs(docs))
    old_only = _pairset(minhash_lsh_pairs(old))
    inc = _pairset(lsh_pairs_incremental(spark, new, path))
    assert old_only | inc == full
    assert old_only.isdisjoint(inc)
    assert inc, "sf0.001 halves must share near-dup candidates"
