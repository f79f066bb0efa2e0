"""End-to-end corpus-curation pipeline: fused annotation parity with the
oracle-checked per-stage operators, and stage-by-stage survivorship on a
planted corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions import curate, text
from pg2kinesis_spark.io import load_table


@pytest.fixture(scope="module")
def corpus(spark):
    en = "the cat and the dog ran to the house of a friend and back again to rest"
    en2 = en  # exact duplicate of en (doc 1)
    en_near = en.replace("rest", "sleep")  # one-word edit → near-dup of en
    de = "der hund und die katze sind nicht in das haus gegangen und der tag"
    junk = "a a a a a a"  # degenerate: all stopwords → low quality
    rows = [(0, en), (1, en2), (2, en_near), (3, de), (4, junk)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_annotate_matches_single_stage_operators(spark, sf_small):
    """The fused single-scan annotate must be bit-identical to the
    oracle-checked quality_score and lang_id run separately."""
    docs = load_table(spark, sf_small, "documents")
    ann = curate.annotate(docs).select("doc_id", "n_tokens", "quality", "pred_lang")
    ref = (
        text.quality_score(docs)
        .select("doc_id", "n_tokens", "quality")
        .join(text.lang_id(docs).select("doc_id", "pred_lang"), "doc_id")
    )
    assert ann.exceptAll(ref).count() == 0
    assert ref.exceptAll(ann).count() == 0


def test_curate_drops_exact_and_near_dups(spark, corpus):
    out = curate.curate_corpus(corpus, near_dup_jaccard=0.5)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 0 in ids  # cluster survivor = smallest doc_id
    assert 1 not in ids  # exact duplicate of 0
    assert 2 not in ids  # near-dup of 0 (est_jaccard above threshold)
    assert 3 in ids and 4 in ids  # unrelated docs survive


def test_exact_dedup_keeps_every_null_text_row(spark):
    """NULL text is absent content, not equal content: exact dedup keeps
    every NULL-text row (SQL NULL != NULL; the hash join on md5(NULL)
    matches nothing), while empty strings are content and collapse to
    the smallest doc_id like any other duplicate text."""
    docs = spark.createDataFrame(
        [(1, "same words here"), (2, "same words here"), (3, None), (4, None), (5, ""), (6, "")],
        "doc_id long, text string",
    )
    out = curate.curate_corpus(docs, near_dup_jaccard=None)
    assert sorted(r.doc_id for r in out.select("doc_id").collect()) == [1, 3, 4, 5]


def test_null_text_curate_keeps_every_row_exact_dedup_groups_them(spark):
    """The two NULL-text rules side by side: ``curate_corpus`` keeps every
    NULL-text row, while ``exact_duplicates`` is a GROUP BY and puts all
    NULL texts in one group (the semantics oracle n5_dedup_exact checks)."""
    from pg2kinesis_spark.functions.dedup import exact_duplicates

    docs = spark.createDataFrame([(1, "a b c"), (2, None), (3, None)], "doc_id long, text string")
    out = curate.curate_corpus(docs, near_dup_jaccard=None)
    assert sorted(r.doc_id for r in out.select("doc_id").collect()) == [1, 2, 3]
    groups = {r.content_hash: (r.keep_id, r.n_copies) for r in exact_duplicates(docs).collect()}
    assert groups[None] == (2, 2)
    assert sorted(groups.values()) == [(1, 1), (2, 2)]


def test_curate_lang_and_quality_filters(spark, corpus):
    out = curate.curate_corpus(corpus, langs=("en",), near_dup_jaccard=None)
    langs = {r.pred_lang for r in out.collect()}
    assert langs == {"en"}
    # junk doc is all stopwords → stopword term of the score collapses
    hi = curate.curate_corpus(corpus, min_quality=0.3, near_dup_jaccard=None)
    assert 4 not in {r.doc_id for r in hi.collect()}


def test_curate_token_budget_respected(spark, corpus):
    out = curate.curate_corpus(corpus, near_dup_jaccard=0.5, token_budget=20)
    rows = out.collect()
    assert sum(r.n_tokens for r in rows) <= 20
    assert rows  # budget of 20 fits at least one surviving doc


def test_curate_full_table_is_consistent(spark, sf_small):
    """On real documents: the curated docs with non-NULL text are a
    subset of the exact-dedup survivors, every NULL-text doc is curated,
    and a repeated run is identical (determinism)."""
    docs = load_table(spark, sf_small, "documents")
    a = sorted(r.doc_id for r in curate.curate_corpus(docs).select("doc_id").collect())
    b = sorted(r.doc_id for r in curate.curate_corpus(docs).select("doc_id").collect())
    assert a == b and len(a) > 0
    # every curated doc_id is an exact-dedup survivor
    from pg2kinesis_spark.functions.dedup import exact_duplicates

    keep = {r.keep_id for r in exact_duplicates(docs).collect()}
    null_ids = {r.doc_id for r in docs.filter(F.col("text").isNull()).select("doc_id").collect()}
    assert set(a) - null_ids <= keep
    # every NULL-text doc is curated (exact dedup groups them; curate does not)
    assert null_ids <= set(a)


def test_curate_with_gopher_pii_decontam_stages(spark, sf_small):
    from pg2kinesis_spark.functions.contamination import contaminated_ids
    from pg2kinesis_spark.functions.pii import pii_filter
    from pg2kinesis_spark.functions.repetition import gopher_filter
    from pg2kinesis_spark.io import load_table

    docs = load_table(spark, sf_small, "documents").limit(200).select("doc_id", "text")
    # eval set lifted from one real doc -> guaranteed contamination hit
    src = docs.filter(F.size(F.split("text", " ")) > 30).first()
    eval_df = spark.createDataFrame(
        [(0, " ".join(src["text"].split(" ")[2:20]))], ["eval_id", "text"]
    )
    out = curate.curate_corpus(
        docs,
        near_dup_jaccard=None,
        gopher=True,
        max_pii=0,
        eval_df=eval_df,
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    # every stage's own verdict must hold on the survivors
    gopher_ok = {r["doc_id"] for r in gopher_filter(docs).select("doc_id").collect()}
    pii_ok = {r["doc_id"] for r in pii_filter(docs, 0).select("doc_id").collect()}
    contaminated = {r["doc_id"] for r in contaminated_ids(docs, eval_df).collect()}
    assert src["doc_id"] in contaminated
    assert kept <= (gopher_ok & pii_ok) - contaminated
    # and nothing the gates allow was over-dropped (exact dedup only
    # removes duplicate text, rare in 200 real docs)
    assert len((gopher_ok & pii_ok) - contaminated) - len(kept) <= 3


def test_corpus_profile_single_job(spark, sf_small):
    from pg2kinesis_spark.functions.profile import corpus_profile, lang_distribution

    docs = load_table(spark, sf_small, "documents").limit(100).select("doc_id", "text")
    p = corpus_profile(docs).collect()[0]
    assert p["n_docs"] == 100
    assert p["n_tokens"] > 0 and p["n_chars"] > p["n_tokens"]
    assert len(p["tok_p10_p50_p90_p99"]) == 4
    assert 0.0 <= p["quality_mean"] <= 1.0
    assert p["approx_distinct_texts"] >= 90  # sf0.001 docs are ~unique
    ld = lang_distribution(docs).collect()
    assert sum(r["n_docs"] for r in ld) == 100
    # no collect_list / per-doc blowup in the one-row profile plan
    plan = corpus_profile(docs)._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan


def test_curate_c4_and_substring_stages(spark):
    span = "exact duplicated span of many words repeated verbatim across docs"
    rows = [
        (1, f"A good sentence with enough words here. {span} more trailing words now. Extra sentence to pass gates."),
        (2, f"Different opening sentence for this doc. {span} and a different tail. One more closing sentence here."),
        (3, "Clean unique document. It has several sentences. All of them end properly. Nothing repeats at all. Final line here."),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = curate.curate_corpus(
        docs,
        near_dup_jaccard=None,
        c4_rules=False,
        substring_k=8,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 2, 3}
    # the duplicated span survives only in doc 1 (first occurrence)
    assert "verbatim" in got[1]["text"]
    assert "verbatim" not in got[2]["text"]
    # re-annotation reflects the cut
    assert got[2]["n_tokens"] < got[1]["n_tokens"]
    # c4_rules drop the punctuation-free corpus entirely (honest gate)
    out2 = curate.curate_corpus(
        spark.createDataFrame([(9, "no punctuation here at all")], ["doc_id", "text"]),
        near_dup_jaccard=None,
        c4_rules=True,
    )
    assert out2.count() == 0


def test_media_dedup(spark):
    from pg2kinesis_spark.functions.multimodal import (
        media_exact_duplicates,
        media_near_dup_pairs,
        synthetic_media,
    )

    base = "x" * 600
    rows = [
        (1, base),
        (2, base),                      # exact dup of 1
        (3, base[:-1] + "y"),           # 1 chunk differs -> near dup
        (4, "completely different content " * 20),
    ]
    media = synthetic_media(spark.createDataFrame(rows, ["doc_id", "text"]))
    ex = {r["keep_id"]: r["n_copies"] for r in media_exact_duplicates(media).collect()}
    assert ex[1] == 2  # 1 and 2 collapse
    pairs = {
        (r["media_id1"], r["media_id2"]): r["hamming"]
        for r in media_near_dup_pairs(media, max_hamming=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    # docs 1/3 differ in ONE 64-byte chunk -> signatures differ by at
    # most one bit (possibly zero: parity may coincide) -> must pair
    assert (1, 3) in pairs and pairs[(1, 3)] <= 1
    assert not any(4 in p for p in pairs)


def test_corpus_report_cli(sf_small):
    """The report CLI end-to-end: subprocess, JSON contract."""
    import json
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "tools/corpus_report.py", sf_small, "--limit", "80"],
        capture_output=True, text=True, timeout=300,
        cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["profile"]["n_docs"] == 80
    assert set(rep["gate_survivors"]) == {"quality_ge_0.2", "gopher", "pii_clean"}
    assert 0 <= rep["exact_dedup"]["dup_rate"] <= 1
    assert rep["languages"]


def test_curate_url_front_door_stage(spark, corpus):
    """url_col= switches on the RefinedWeb stage-0 gates; results must
    equal applying the urls.py operators by hand before curation."""
    from pg2kinesis_spark.functions import urls as U

    docs = corpus.withColumn(
        "url",
        F.expr(
            "case when doc_id = 1 then 'https://www.mirror.example/a?utm_source=x'"
            "     when doc_id = 0 then 'https://mirror.example/a'"
            "     when doc_id = 3 then 'https://blocked.example/x'"
            "     else concat('https://ok.example/p/', doc_id) end"
        ),
    )
    out = curate.curate_corpus(
        docs,
        near_dup_jaccard=None,
        url_col="url",
        url_blocklist=["blocked.example"],
    )
    ids = {r.doc_id for r in out.collect()}
    # doc 1's URL normalizes to doc 0's → url-dedup keeps min id 0;
    # doc 3 is on a blocked domain; 2 and 4 survive
    assert ids == {0, 2, 4}
    manual = curate.curate_corpus(
        U.url_dedup(U.domain_blocklist_filter(docs, ["blocked.example"])),
        near_dup_jaccard=None,
    )
    assert ids == {r.doc_id for r in manual.collect()}


def test_curate_semdedup_stage(spark, corpus):
    """embeddings= + semdedup_eps= drops semantic near-dups among
    survivors; a doc already dropped by an earlier stage must not act
    as a suppressor."""
    from pg2kinesis_spark.functions.semdedup import semdedup

    # doc 0/2 nearly parallel vectors (semantic dups), others orthogonal
    emb_rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),   # exact text dup of 0 — dropped before semdedup
        (2, [0.999, 0.04, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<float>")
    out = curate.curate_corpus(
        corpus,
        near_dup_jaccard=None,
        embeddings=emb,
        semdedup_eps=0.01,
        semdedup_clusters=2,
    )
    ids = {r.doc_id for r in out.collect()}
    assert 1 not in ids          # exact text dup, dropped at stage 3
    assert ids & {0, 2} != {0, 2}  # one of the semantic pair dropped
    assert {3, 4} <= ids
    # and the flags on the SURVIVOR set agree with a standalone semdedup
    surv_emb = emb.filter(F.col("vec_id") != 1)
    flags = {r.vec_id: r.kept for r in semdedup(surv_emb, dim=4, eps=0.01, n_clusters=2).collect()}
    assert ids == {d for d in [0, 2, 3, 4] if flags[d]}


def test_curate_dsir_selection_stage(spark, corpus):
    """dsir_target= + dsir_n= performs the final selection; equals the
    standalone fit+select over the same survivor set."""
    from pg2kinesis_spark.functions.dsir import dsir_select, fit_dsir_logratios

    target = corpus.filter(F.col("doc_id") == 3).select("doc_id", "text")
    out = curate.curate_corpus(corpus, near_dup_jaccard=None, dsir_target=target, dsir_n=2)
    assert out.count() == 2
    surv = curate.curate_corpus(corpus, near_dup_jaccard=None)
    lr = fit_dsir_logratios(target, surv)
    want = {r.doc_id for r in dsir_select(surv, lr, n=2).collect()}
    assert {r.doc_id for r in out.collect()} == want


def test_url_tier_tolerates_user_metadata_columns(spark):
    """A docs table carrying its own host/domain/path/url_norm columns
    (common crawl metadata) must not confuse the URL tier: the tier's
    parsed columns use internal names, so filtering decisions come from
    the PARSED url — a user `host` column naming a blocked domain must
    not get its row dropped (regression: default names clobbered the
    user's columns and made the overlap ambiguous)."""
    from pg2kinesis_spark.functions.curate import curate_corpus

    rows = [
        (1, "a doc about spark and scale " * 4, "https://a.example.com/p",
         "blocked.example", "/meta/path"),  # user host col is a blocked name
        (2, "a second doc entirely different words " * 4,
         "https://b.blocked.example/q", "meta-host-2", "/meta/other"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, url string, host string, path string"
    )
    out = curate_corpus(
        docs, url_col="url", url_blocklist=["blocked.example"],
        domain_cap_k=5, near_dup_jaccard=None,
    )
    # doc 2's URL is under the blocked domain -> dropped; doc 1's user
    # metadata column must NOT trigger the blocklist
    assert {r.doc_id for r in out.collect()} == {1}
