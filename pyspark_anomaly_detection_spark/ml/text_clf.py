"""Text-classification pipeline: HashingTF → IDF → LogisticRegression —
the MLlib text stack the reference's RF pipeline doesn't touch
(reference src/models/train.py:40-67 is numeric-feature RF; SURVEY
§2.10 M2-M8 generalized to the documents table).

Feature hashing is the 100 TB tokenizer: no vocabulary build pass, no
driver-side dictionary — each token maps to one of ``num_features``
buckets by hash, so the feature space is fixed-width regardless of
corpus size, and the transform is embarrassingly parallel.  IDF is one
aggregation over the hashed vectors; LR training is MLlib's distributed
L-BFGS.

Deterministic split: content-hash buckets on doc_id (the same
q91-style convention as text/splits.py) — training membership never
depends on partitioning or row order.

NOT registered as a driver query: the testdata documents' ``lang`` and
the embeddings' ``label`` are both statistically independent of their
features (probed: TF-IDF LR, NaiveBayes, and nearest-centroid all score
at chance), so a registry entry would showcase a model that cannot beat
the majority class.  The stack is instead pinned by
tests/test_ml_pipeline.py on a constructed corpus with real signal.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import IDF, HashingTF, StringIndexer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_anomaly_detection_spark.text.setjoin import TOKEN_SPLIT

NUM_FEATURES = 4096
TRAIN_BUCKETS = 8  # of 10 → 80/20 split
SEED = 42


def _with_tokens(docs: DataFrame) -> DataFrame:
    return docs.withColumn(
        "tokens",
        F.filter(F.split(F.lower("text"), TOKEN_SPLIT), lambda t: t != ""),
    )


def split_docs(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic 80/20 content-hash split (never sample-based)."""
    bucketed = docs.withColumn(
        "_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(10))
    )
    train = bucketed.filter(F.col("_bucket") < TRAIN_BUCKETS).drop("_bucket")
    test = bucketed.filter(F.col("_bucket") >= TRAIN_BUCKETS).drop("_bucket")
    return train, test


def train_lang_classifier(docs: DataFrame) -> PipelineModel:
    """Fit lang ← hashed-TF-IDF(text) with multinomial LR."""
    from pyspark_anomaly_detection_spark.ml.pipeline import strip_training_summary

    pipeline = Pipeline(
        stages=[
            StringIndexer(
                inputCol="lang", outputCol="label", stringOrderType="alphabetAsc"
            ),
            HashingTF(
                inputCol="tokens", outputCol="tf", numFeatures=NUM_FEATURES
            ),
            IDF(inputCol="tf", outputCol="features"),
            LogisticRegression(maxIter=30, regParam=0.001, family="multinomial"),
        ]
    )
    model = pipeline.fit(_with_tokens(docs))
    # LR retains a training summary holding the SparkSession; after any
    # df.observe() in the session that makes the captured model
    # non-serializable (see ml/pipeline.py::strip_training_summary).
    strip_training_summary(model)
    return model


def score_lang_classifier(model: PipelineModel, docs: DataFrame) -> DataFrame:
    """Per-language holdout accuracy of the fitted classifier."""
    indexer = model.stages[0]
    labels = list(indexer.labels)
    label_to_lang = F.array(*[F.lit(lab) for lab in labels])
    scored = model.transform(_with_tokens(docs)).withColumn(
        "predicted_lang",
        label_to_lang[F.col("prediction").cast("int")],
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("predicted_lang") == F.col("lang"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .withColumn(
            "accuracy",
            F.col("n_correct").cast("double") / F.col("n_docs").cast("double"),
        )
        .orderBy("lang")
    )
