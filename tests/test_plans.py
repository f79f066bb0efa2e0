"""Physical-plan regression guards: the optimizations SURVEY §4 promises
must actually appear in the executed plans (pushdown, pruning, broadcast,
partial aggregation, no global window in the scalable prefix scan)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.plans.queries import q2, q3, q13


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q13_partial_final_aggregate(spark, sf_small):
    plan = _plan(q13(spark, sf_small))
    assert plan.count("HashAggregate") >= 2  # map-side partial + final


def test_q13_column_pruning(spark, sf_small):
    plan = _plan(q13(spark, sf_small))
    scan = [l for l in plan.splitlines() if "FileScan" in l or "Scan parquet" in l]
    assert scan, plan
    # only the 4 referenced columns reach the scan
    assert "l_quantity" in scan[0] and "l_shipdate" not in scan[0]


def test_q2_broadcast_join_and_pushdown(spark, sf_small):
    plan = _plan(q2(spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # small sides must broadcast
    assert "EqualTo(l_linenumber,1)" in plan  # filter pushed to the scan


def test_q3_filter_pushdown_prunes_scan(spark, sf_small):
    plan = _plan(q3(spark, sf_small))
    scan = [l for l in plan.splitlines() if "FileScan" in l or "Scan parquet" in l]
    # the consolidated q3 reads 5 columns; unreferenced ones stay pruned
    assert "p_size" not in scan[0] and "p_comment" not in scan[0]
    assert "IsNotNull(p_name)" in scan[0]  # rlike's null-guard pushed to scan


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window specs with an empty PARTITION BY. A spec prints its
    partition keys first, bare; with none, its first argument is an
    ordering (``... ASC NULLS FIRST``) or the frame itself."""
    firsts = re.findall(r"windowspecdefinition\(([^,]*)", plan)
    return [
        f
        for f in firsts
        if f.startswith("specifiedwindowframe") or re.search(r" (ASC|DESC) NULLS (FIRST|LAST)$", f)
    ]


def test_td_parse_has_no_global_window(spark, pk_fixture_dir, sf_small):
    """The xid carry-forward must never plan a single-partition global
    window (the scale cliff the two-phase scan exists to avoid) in any
    of its users: the test_decoding and pgoutput parses and oracle q18."""
    from pg2kinesis_spark import fixtures as fx
    from pg2kinesis_spark.catalog import primary_key_map
    from pg2kinesis_spark.operators.pgoutput import pgoutput_cdc_changes
    from pg2kinesis_spark.operators.test_decoding import parse_test_decoding
    from pg2kinesis_spark.plans.queries import q18

    raw = spark.read.parquet(f"{pk_fixture_dir}/cdc_test_decoding.parquet")
    pk = primary_key_map(spark.read.parquet(f"{pk_fixture_dir}/pk_catalog.parquet"))
    td = _plan(parse_test_decoding(raw, pk))
    assert "BroadcastHashJoin" in td  # catalog probe stays broadcast
    pgout = spark.createDataFrame(
        fx.gen_pgoutput(n_txns=20), "lsn long, data_size int, payload string"
    ).select("lsn", F.unbase64("payload").alias("payload"))
    plans = {
        "test_decoding": td,
        "pgoutput": _plan(pgoutput_cdc_changes(pgout)),
        "q18": _plan(q18(spark, sf_small)),
    }
    for name, plan in plans.items():
        assert "windowspecdefinition" in plan, name  # the carry's window is planned
        assert not _unpartitioned_windows(plan), (name, plan)


def test_cosine_topk_two_phase_no_per_query_funnel(spark, sf_small):
    """ANN top-k must pre-reduce per (query, salt) before the global
    per-query ranking — a bare partitionBy(query_id) window would funnel
    a whole corpus into one reducer per query at scale."""
    from pg2kinesis_spark.functions.similarity import cosine_topk
    from pg2kinesis_spark.io import load_table

    emb = load_table(spark, sf_small, "embeddings")
    df = cosine_topk(emb, emb.limit(5), k=3)
    plan = _plan(df)
    windows = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert len(windows) >= 2, plan  # local (salted) + global refine
    assert any("_salt" in l for l in windows), plan


def test_registered_neardup_has_no_self_cross_join(spark, sf_small):
    """The registered embedding near-dup query must be the bucketed SRP
    path — never an N² self cross join of the corpus."""
    from pg2kinesis_spark.plans.ns_queries import NS_QUERIES

    plan = _optimized(NS_QUERIES["n10_embedding_neardup"](spark, sf_small))
    assert "Join Cross" not in plan, plan


def test_two_phase_scans_leave_no_cached_rdds(spark, pk_fixture_dir, sf_small):
    """The prefix-scan operators must not leak persisted RDDs: a leaked
    cache accumulates forever in a long-lived streaming driver."""
    from pg2kinesis_spark.catalog import primary_key_map
    from pg2kinesis_spark.functions import dedup, sampling, text
    from pg2kinesis_spark.io import load_table
    from pg2kinesis_spark.operators.test_decoding import parse_test_decoding

    def _persisted_ids() -> set[int]:
        jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = jmap.keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    # Compare ID SETS, not counts: the shared test session can hold
    # lingering checkpoint RDDs from EARLIER tests that the
    # ContextCleaner unpersists asynchronously — a count-equality
    # assert fails when that cleanup lands mid-test (observed:
    # before=12 leftovers -> after=0). What this test pins is that the
    # operators below add NOTHING that remains persisted.
    before = _persisted_ids()

    raw = spark.read.parquet(f"{pk_fixture_dir}/cdc_test_decoding.parquet")
    pk = primary_key_map(spark.read.parquet(f"{pk_fixture_dir}/pk_catalog.parquet"))
    parse_test_decoding(raw, pk).count()

    docs = load_table(spark, sf_small, "documents")
    q = text.quality_score(docs)
    sampling.token_budget_select(
        q, score=q["quality"], n_tokens=q["n_tokens"], budget=10_000
    ).count()
    dedup.jaccard_pairs(docs.limit(50), n=3, max_shingle_df=50).count()

    leaked = _persisted_ids() - before
    assert not leaked, f"operators left persisted RDDs: {sorted(leaked)}"


def test_lsh_band_explode_carries_no_signature_columns(spark, sf_small):
    """The band-candidate self-join must shuffle only
    (doc_id, band_idx, band_key) — carrying the k signature columns
    through the explode multiplies the band shuffle width by k ints per
    row. Signatures re-join only for candidate pairs."""
    from pg2kinesis_spark.functions import dedup
    from pg2kinesis_spark.io import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_small, "documents").filter(F.col("doc_id") < 300)
    plan = _optimized(dedup.minhash_lsh_pairs(docs, n=3, k=16, bands=4, seed=7))
    gen = [l for l in plan.splitlines() if "posexplode" in l]
    assert gen, plan
    for line in gen:
        # Generate's retained output is the bracketed list after 'false,'
        out = line.rsplit("false,", 1)[-1]
        assert "mh" not in out, line  # only band_idx/band_key survive
        assert "band_key" in out
