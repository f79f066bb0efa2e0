"""DSIR oracle tests: pure-Python mirror of the hashed-ngram feature
pipeline, the smoothed log-ratio fit, per-doc scoring, and the Gumbel
top-k resample. Scoring sums doubles in engine-dependent order, so
score comparisons use 1e-9 relative tolerance (test_lm precedent); set
memberships are compared exactly."""

from __future__ import annotations

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions import dsir
from pg2kinesis_spark.io import load_table

B = 512  # small bucket count keeps the python mirror fast


def _py_grams(text: str) -> list[str]:
    ws = [w for w in re.split(" +", text.lower()) if w != ""]
    return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]


def _py_bucket(g: str) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B


def _py_logratios(target: list[str], raw: list[str], alpha: float = 1.0) -> dict[int, float]:
    tc: dict[int, int] = {}
    rc: dict[int, int] = {}
    for txt in target:
        for g in _py_grams(txt):
            b = _py_bucket(g)
            tc[b] = tc.get(b, 0) + 1
    for txt in raw:
        for g in _py_grams(txt):
            b = _py_bucket(g)
            rc[b] = rc.get(b, 0) + 1
    tt, rt = sum(tc.values()), sum(rc.values())
    return {
        b: math.log((tc.get(b, 0) + alpha) / (tt + alpha * B))
        - math.log((rc.get(b, 0) + alpha) / (rt + alpha * B))
        for b in range(B)
    }


def _py_score(text: str, lr: dict[int, float]) -> float:
    return sum(lr[_py_bucket(g)] for g in _py_grams(text))


def _py_gumbel(logw: float, key) -> float:
    h = int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16)
    u = (h + 1.0) / float(1 << 60)
    return logw - math.log(-math.log(u))


@pytest.fixture(scope="module")
def corpora(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") < 40)
    rows = {r.doc_id: r.text for r in docs.collect()}
    return docs, target, rows


def test_fit_matches_python(spark, corpora):
    docs, target, rows = corpora
    got = {
        r.bucket: r.logratio
        for r in dsir.fit_dsir_logratios(target, docs, n_buckets=B).collect()
    }
    want = _py_logratios([rows[d] for d in rows if d < 40], list(rows.values()))
    assert set(got) == set(range(B))
    for b in range(B):
        assert got[b] == pytest.approx(want[b], rel=1e-9, abs=1e-12)


def test_scores_match_python(spark, corpora):
    docs, target, rows = corpora
    lr = dsir.fit_dsir_logratios(target, docs, n_buckets=B)
    got = {r.doc_id: r.logw for r in dsir.dsir_scores(docs, lr, n_buckets=B).collect()}
    want_lr = _py_logratios([rows[d] for d in rows if d < 40], list(rows.values()))
    assert set(got) == set(rows)
    for d, txt in rows.items():
        assert got[d] == pytest.approx(_py_score(txt, want_lr), rel=1e-9, abs=1e-9)


def test_select_matches_python_gumbel_topk(spark, corpora):
    docs, target, rows = corpora
    lr = dsir.fit_dsir_logratios(target, docs, n_buckets=B)
    got = dsir.dsir_select(docs, lr, n=60, n_buckets=B).collect()
    assert len(got) == 60
    want_lr = _py_logratios([rows[d] for d in rows if d < 40], list(rows.values()))
    keyed = sorted(
        ((-_py_gumbel(_py_score(txt, want_lr), d), d) for d, txt in rows.items())
    )[:60]
    assert {r.doc_id for r in got} == {d for _, d in keyed}


def test_empty_doc_scores_zero(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, "   "), (4, "gamma delta epsilon")],
        "doc_id long, text string",
    )
    target = docs.filter(F.col("doc_id") == 1)
    lr = dsir.fit_dsir_logratios(target, docs, n_buckets=B)
    got = {r.doc_id: r.logw for r in dsir.dsir_scores(docs, lr, n_buckets=B).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[2] == 0.0 and got[3] == 0.0
    assert got[1] > 0.0  # target-ish doc scores positive vs the mix
    assert got[4] < 0.0  # off-target doc scores negative


def test_dsir_prefers_target_like_docs(spark):
    """End-to-end behavior pin: raw = two vocab families, target drawn
    from family A — the resample must overwhelmingly pick A-docs."""
    a_words = ["spark", "shuffle", "partition", "broadcast", "codegen", "arrow"]
    b_words = ["llama", "yak", "gnu", "ibex", "okapi", "tapir"]

    def doc(words, i):
        return " ".join(words[(i + j) % len(words)] for j in range(12))

    raw_rows = [(i, doc(a_words, i)) for i in range(100)] + [
        (100 + i, doc(b_words, i)) for i in range(100)
    ]
    tgt_rows = [(1000 + i, doc(a_words, i + 3)) for i in range(20)]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(tgt_rows, "doc_id long, text string")
    lr = dsir.fit_dsir_logratios(tgt, raw, n_buckets=B)
    picked = {r.doc_id for r in dsir.dsir_select(raw, lr, n=50, n_buckets=B).collect()}
    assert len(picked) == 50
    assert sum(1 for d in picked if d < 100) >= 45  # ≥90% from family A


def test_scoring_plan_broadcasts_logratios(spark, corpora):
    docs, target, _ = corpora
    lr = dsir.fit_dsir_logratios(target, docs, n_buckets=B)
    plan = (
        dsir.dsir_scores(docs, lr, n_buckets=B)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan  # gram stream never shuffles to meet the table
