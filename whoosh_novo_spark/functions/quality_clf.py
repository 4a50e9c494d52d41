"""Learned quality classifier: the reference-vs-crawl linear model
(the model-based webtext quality gate, next to the Gopher heuristics
in functions/repetition.py + functions/c4.py).

The published pipelines (the GPT-3 "WebText-vs-crawl" classifier, CCNet's
fastText quality buckets, RefinedWeb's ablations) all use the same shape:
a LINEAR classifier over hashed n-gram features, trained with a trusted
corpus as positives and a random crawl sample as negatives, then applied
to every candidate document.  At 10^12 documents nothing heavier is
affordable per row, and linear-over-hashed-ngrams is within a point or
two of anything fancier on this task.

Spark-first implementation — no per-row Python anywhere:

- featurization is JVM expressions (lowercase \\w+ split, bigram
  zip_with) into ``pyspark.ml.feature.HashingTF`` (binary presence,
  2^18 dims by default: the fastText default bucket count);
- training is ``pyspark.ml.classification.LogisticRegression`` — L-BFGS
  with map-side-combined gradient aggregation (treeAggregate) on the
  JVM, the exact distributed shape hand-rolled SGD would need anyway;
- scoring is ``model.transform`` (ScalaUDF, codegen-adjacent) +
  ``vector_to_array`` — a pure column pipeline that composes with
  ``clean_corpus`` and with Structured Streaming sinks.

Scale notes (100 TB lens): training input is a SAMPLE by construction
(a few hundred thousand labeled rows — the published classifiers train
on fewer); scoring is the full-corpus pass and is map-only: hashed
features never leave the row, the model is a broadcast coefficient
vector, no shuffle, no driver collect.  A skewed corpus cannot skew a
map-only stage.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TOKEN_SPLIT = r"[^\p{L}\p{Nd}]+"


def _ngram_tokens(text: Column, bigrams: bool = True) -> Column:
    """lowercased word unigrams (+ ``a_b`` bigrams) as one array<string>
    — pure Catalyst (split + filter + zip_with), no UDF."""
    toks = F.filter(
        F.split(F.lower(text), _TOKEN_SPLIT), lambda t: t != ""
    )
    if not bigrams:
        return toks
    n = F.size(toks)
    heads = F.slice(toks, 1, F.greatest(n - 1, F.lit(0)))
    tails = F.slice(toks, 2, F.greatest(n - 1, F.lit(0)))
    bg = F.zip_with(heads, tails, lambda a, b: F.concat(a, F.lit("_"), b))
    return F.concat(toks, bg)


@dataclass(frozen=True)
class QualityModel:
    """A trained quality classifier: the fitted Spark ML model plus the
    featurization settings that MUST match at scoring time (hash dims,
    bigram switch) — the hashing trick has no vocabulary file to ship,
    so these two integers are the whole feature contract."""

    lr_model: object  # pyspark.ml LogisticRegressionModel
    n_features: int
    bigrams: bool

    def save(self, path: str) -> None:
        """Persist to ``path`` (Spark ML writer + a tiny meta JSON)."""
        import json
        import os

        self.lr_model.write().overwrite().save(os.path.join(path, "lr"))
        meta = {"n_features": self.n_features, "bigrams": self.bigrams}
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump(meta, f)

    @staticmethod
    def load(path: str) -> "QualityModel":
        import json
        import os

        from pyspark.ml.classification import LogisticRegressionModel

        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        lr = LogisticRegressionModel.load(os.path.join(path, "lr"))
        return QualityModel(lr, meta["n_features"], meta["bigrams"])


def _featurize(
    df: DataFrame, text_col: str, n_features: int, bigrams: bool
) -> DataFrame:
    from pyspark.ml.feature import HashingTF

    toks = df.withColumn("_qtoks", _ngram_tokens(F.col(text_col), bigrams))
    tf = HashingTF(
        inputCol="_qtoks", outputCol="_qfeat", numFeatures=n_features, binary=True
    )
    return tf.transform(toks).drop("_qtoks")


def train_quality_classifier(
    positives: DataFrame,
    negatives: DataFrame,
    text_col: str = "text",
    n_features: int = 1 << 18,
    bigrams: bool = True,
    reg_param: float = 1e-4,
    max_iter: int = 50,
) -> QualityModel:
    """Fit the reference-vs-crawl classifier.  ``positives`` is the
    trusted corpus (curated/reference pages), ``negatives`` a random
    sample of the raw crawl — label leakage is on the caller (dedup the
    two against each other first; ``operators/dedup`` has every tool).

    Training cost is O(sample); both inputs should already be bounded
    samples (``operators/sampling.bernoulli_sample`` / ``split``), not
    the full corpus.
    """
    from pyspark.ml.classification import LogisticRegression

    labeled = positives.select(
        F.col(text_col).alias("_t"), F.lit(1.0).alias("label")
    ).unionByName(
        negatives.select(F.col(text_col).alias("_t"), F.lit(0.0).alias("label"))
    )
    feats = _featurize(labeled, "_t", n_features, bigrams)
    lr = LogisticRegression(
        featuresCol="_qfeat",
        labelCol="label",
        regParam=reg_param,
        maxIter=max_iter,
        standardization=False,  # binary presence features share a scale
    )
    model = lr.fit(feats)
    return QualityModel(model, n_features, bigrams)


def quality_probability(
    df: DataFrame,
    model: QualityModel,
    text_col: str = "text",
    out_col: str = "quality_p",
) -> DataFrame:
    """Attach P(quality) in [0,1] to every row — the full-corpus pass.
    Map-only: hashing + a broadcast dot product per row; composes with
    batch and streaming plans alike."""
    from pyspark.ml.functions import vector_to_array

    feats = _featurize(df, text_col, model.n_features, model.bigrams)
    scored = model.lr_model.transform(feats)
    keep = df.columns
    return scored.select(
        *keep, vector_to_array(F.col("probability"))[1].alias(out_col)
    )


def quality_filter(
    df: DataFrame,
    model: QualityModel,
    text_col: str = "text",
    threshold: float = 0.5,
    keep_score: bool = False,
    out_col: str = "quality_p",
) -> DataFrame:
    """Keep rows with P(quality) >= ``threshold``.  CCNet-style usage
    keeps the score column (``keep_score=True``) and buckets on it
    downstream instead of hard-filtering; the default mirrors the
    GPT-3-style hard gate."""
    scored = quality_probability(df, model, text_col=text_col, out_col=out_col)
    kept = scored.where(F.col(out_col) >= threshold)
    return kept if keep_score else kept.drop(out_col)
