"""Decontamination + sequence packing vs pure-Python oracles."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.contamination import (
    contaminated_ids,
    decontaminate,
)
from pg2kinesis_spark.functions.packing import pack_sequences
from pg2kinesis_spark.io import load_table


def _py_grams(text: str, n: int) -> set[str]:
    ws = text.split(" ")
    if len(ws) < n:
        return {" ".join(ws)}
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


@pytest.fixture(scope="module")
def eval_df(spark, sf_small):
    # fabricate an eval set: 5 verbatim snippets lifted from real docs
    # (guaranteed contamination), plus clean items incl. a short one
    docs = load_table(spark, sf_small, "documents").limit(50).collect()
    rows, n = [], 0
    for r in docs[:5]:
        ws = r["text"].split(" ")
        if len(ws) >= 20:
            rows.append((n, " ".join(ws[3:20]))); n += 1
    rows.append((n, "completely novel benchmark question nobody wrote")); n += 1
    rows.append((n, "short item")); n += 1
    return spark.createDataFrame(rows, ["eval_id", "text"])


def test_contaminated_ids_matches_python(spark, sf_small, eval_df):
    docs = load_table(spark, sf_small, "documents").limit(300)
    N = 13
    got = {r["doc_id"] for r in contaminated_ids(docs, eval_df, N).collect()}
    eval_grams = set()
    for r in eval_df.collect():
        eval_grams |= _py_grams(r["text"], N)
    want = {
        r["doc_id"]
        for r in docs.collect()
        if _py_grams(r["text"], N) & eval_grams
    }
    assert got == want and got  # the planted snippets must flag


def test_decontaminate_removes_exactly_flagged(spark, sf_small, eval_df):
    docs = load_table(spark, sf_small, "documents").limit(300)
    flagged = {r["doc_id"] for r in contaminated_ids(docs, eval_df).collect()}
    kept = {r["doc_id"] for r in decontaminate(docs, eval_df).collect()}
    alldocs = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert kept == alldocs - flagged


def test_contamination_plan_broadcasts_eval(spark, sf_small, eval_df):
    docs = load_table(spark, sf_small, "documents").limit(300)
    plan = (
        contaminated_ids(docs, eval_df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # corpus-side gram explosion must not be exchanged before the join
    assert plan.index("Generate") > plan.index("BroadcastHashJoin")


def _py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_pack_sequences_matches_python(spark, sf_small):
    docs = (
        load_table(spark, sf_small, "documents")
        .limit(500)
        .select("doc_id", F.size(F.split("text", " ")).alias("nt"))
        .withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    SEQ = 512
    got = {
        r["doc_id"]: (r["start_offset"], r["seq_id"], r["seq_pos"], r["spans_boundary"])
        for r in pack_sequences(docs, F.col("nt"), SEQ, "doc_id").collect()
    }
    rows = [(r["doc_id"], r["nt"]) for r in docs.collect() if r["nt"] > 0]
    rows.sort(key=lambda x: (_py_hash60(x[0]), x[0]))
    off = 0
    for doc_id, nt in rows:
        want = (off, off // SEQ, off % SEQ, (off + nt - 1) // SEQ != off // SEQ)
        assert got[doc_id] == want, doc_id
        off += nt
    assert len(got) == len(rows)


def test_pack_bucket_is_exact_at_hash_ceiling(spark):
    """Bucket assignment must be integer arithmetic. The old
    (h / 2^48).cast('long') rounds hashes within 2^12 of 2^60 UP to
    bucket 4096 — which has no offsets row, silently dropping the doc
    from the layout (~2^-48 per row)."""
    from pg2kinesis_spark.functions.packing import _BUCKET_DIV, _N_BUCKETS

    edge = (1 << 60) - 1
    row = (
        spark.range(1)
        .select(
            F.shiftright(F.lit(edge), 48).alias("good"),
            (F.lit(edge) / F.lit(_BUCKET_DIV)).cast("long").alias("bad"),
        )
        .collect()[0]
    )
    assert row["good"] == _N_BUCKETS - 1  # in-range
    assert row["bad"] == _N_BUCKETS  # the dropped-doc failure mode being pinned away


def test_pack_sequences_no_single_partition_window(spark):
    docs = spark.createDataFrame([(str(i), 10) for i in range(100)], ["doc_id", "nt"])
    plan = (
        pack_sequences(docs, F.col("nt"), 64, "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan
