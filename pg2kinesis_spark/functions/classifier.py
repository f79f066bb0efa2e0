"""Trained document classifier — the fasttext-style model filter.

The GPT-3 / CCNet data pipeline scores documents with a LEARNED linear
classifier over bag-of-words features (positives: curated reference
text; negatives: raw crawl) and keeps high scorers. This module is that
component on Spark MLlib: hashed bag-of-words (HashingTF — the hashing
trick bounds the feature space regardless of vocabulary), IDF weighting,
logistic regression. Same linear-model family as fasttext's classifier,
trained and scored entirely JVM-side.

Scale design: training reduces to MLlib's distributed L-BFGS over the
hashed features (driver holds one dense coefficient vector of
``num_features`` floats — bounded by construction, not by corpus);
scoring is a broadcast of those coefficients and one map-only pass.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import HashingTF, IDF, RegexTokenizer, StringIndexer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_classifier_pipeline(
    num_features: int = 1 << 15,
    label_col: str = "label",
    max_iter: int = 50,
    reg_param: float = 1e-4,
) -> Pipeline:
    return Pipeline(
        stages=[
            RegexTokenizer(
                inputCol="text", outputCol="_words", pattern="[a-z0-9]+", gaps=False
            ).setToLowercase(True),
            HashingTF(
                inputCol="_words", outputCol="_tf", numFeatures=num_features
            ),
            IDF(inputCol="_tf", outputCol="_features"),
            StringIndexer(
                inputCol=label_col, outputCol="_label", stringOrderType="alphabetAsc"
            ),
            LogisticRegression(
                featuresCol="_features",
                labelCol="_label",
                maxIter=max_iter,
                regParam=reg_param,
            ),
        ]
    )


def train_doc_classifier(
    docs: DataFrame,
    label_col: str,
    num_features: int = 1 << 15,
    max_iter: int = 50,
    reg_param: float = 1e-4,
) -> PipelineModel:
    """Fit the hashed-BoW logistic classifier on (text, label) rows.
    Labels are any string column (e.g. 'curated'/'crawl', or lang)."""
    return build_classifier_pipeline(
        num_features, label_col, max_iter, reg_param
    ).fit(docs)


def classifier_filter(
    model: PipelineModel,
    docs: DataFrame,
    keep_label: str,
    min_score: float = 0.5,
) -> DataFrame:
    """Documents the model assigns to ``keep_label`` with at least
    ``min_score`` probability — the CCNet-style keep gate."""
    from pyspark.ml.functions import vector_to_array

    labels = None
    for st in model.stages:
        if hasattr(st, "labelsArray"):
            labels = list(st.labelsArray[0])
    idx = labels.index(keep_label)
    # Read P(keep_label) directly from the probability vector: deriving
    # it as 1 - P(class 0) is wrong for >2 classes (it sums ALL other
    # classes, overestimating the keep probability).
    prob = F.element_at(vector_to_array("probability"), idx + 1)
    pred_label = F.element_at(
        F.array(*[F.lit(l) for l in labels]), F.col("prediction").cast("int") + 1
    )
    keep = (
        model.transform(docs)
        .filter((pred_label == keep_label) & (prob >= min_score))
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")
