"""Trained hashed-BoW document classifier (MLlib pipeline).

The synthetic corpus's lang/source columns are uncorrelated with the
text, so the tests build a separation that is learnable by construction:
"crawl" documents get low-frequency spam tokens injected, "curated" stay
clean — exactly the positive/negative framing of the CCNet/GPT-3 model
filter, with a known ground truth.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pg2kinesis_spark.functions.classifier import (
    classifier_filter,
    train_doc_classifier,
)
from pg2kinesis_spark.io import load_table

SPAM = "buynow freestuff clickhere winbig zzzpromo"


@pytest.fixture(scope="module")
def labeled(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    # even doc_id -> curated (clean); odd -> crawl (spam injected mid-text)
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0, F.col("text")
        ).otherwise(F.concat_ws(" ", "text", F.lit(SPAM))).alias("text"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("curated"))
        .otherwise(F.lit("crawl"))
        .alias("label"),
    )


@pytest.fixture(scope="module")
def split(labeled):
    from pg2kinesis_spark.functions.sampling import hash_bucket

    train = labeled.filter(hash_bucket("cast(doc_id as string)", 100) < 70)
    test = labeled.filter(hash_bucket("cast(doc_id as string)", 100) >= 70)
    return train, test


@pytest.fixture(scope="module")
def model(split):
    train, _ = split
    return train_doc_classifier(train, "label", num_features=1 << 13)


def test_classifier_filter_keeps_requested_class(spark, split, model):
    _, test = split
    kept = classifier_filter(model, test.select("doc_id", "text"), keep_label="curated")
    kept_ids = {r["doc_id"] for r in kept.collect()}
    truth = {r["doc_id"]: r["label"] for r in test.collect()}
    curated = {d for d, l in truth.items() if l == "curated"}
    assert kept_ids  # non-empty
    # precision and recall on the kept set
    assert len(kept_ids & curated) / len(kept_ids) >= 0.95
    assert len(kept_ids & curated) / len(curated) >= 0.9
    assert set(kept.columns) == {"doc_id", "text"}


def test_classifier_filter_multiclass_uses_keep_label_probability(spark, sf_small):
    """With >2 classes, P(keep) must come straight from the probability
    vector; deriving it as 1 - P(class 0) sums ALL other classes and
    over-keeps. Pin: the kept set equals exactly {pred == keep_label and
    P(keep_label) >= min_score} computed independently."""
    from pyspark.ml.functions import vector_to_array

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text").limit(300)
    tags = {0: ("curated", ""), 1: ("crawl", SPAM), 2: ("adsy", "zzads promo4u dealblast")}
    labeled = docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            "text",
            F.element_at(
                F.array(*[F.lit(v[1]) for v in tags.values()]),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
        ).alias("text"),
        F.element_at(
            F.array(*[F.lit(v[0]) for v in tags.values()]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("label"),
    )
    m = train_doc_classifier(labeled, "label", num_features=1 << 13)
    labels = None
    for st in m.stages:
        if hasattr(st, "labelsArray"):
            labels = list(st.labelsArray[0])
    # pick a keep label that is NOT class 0, so the old 1-score derivation differs
    keep_label = labels[1]
    min_score = 0.6
    kept = {
        r["doc_id"]
        for r in classifier_filter(
            m, labeled.select("doc_id", "text"), keep_label, min_score
        ).collect()
    }
    idx = labels.index(keep_label)
    probs = m.transform(labeled).select(
        "doc_id",
        F.element_at(vector_to_array("probability"), idx + 1).alias("p"),
        F.col("prediction").cast("int").alias("pred"),
    )
    expect = {r["doc_id"] for r in probs.collect() if r["pred"] == idx and r["p"] >= min_score}
    assert kept == expect
    assert kept  # the class is learnable, so the filter keeps something


def test_classifier_stage_in_curate(spark, split, model):
    from pg2kinesis_spark.functions import curate

    _, test = split
    out = curate.curate_corpus(
        test.select("doc_id", "text"),
        near_dup_jaccard=None,
        classifier_model=model,
        classifier_keep="curated",
    )
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    truth = {r["doc_id"]: r["label"] for r in test.collect()}
    curated = {d for d, l in truth.items() if l == "curated"}
    assert kept and len(kept & curated) / len(kept) >= 0.95
