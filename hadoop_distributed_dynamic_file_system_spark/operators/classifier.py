"""Hashed-feature linear quality classifier: the fasttext-style
"quality model" stage of a training-data pipeline (classify docs as
high/low quality, keep by score), built so BOTH halves are Spark-
native:

- features: hashed bag-of-words term frequencies over md5 buckets
  (engine-portable — the same bucket arithmetic as DSIR/sampling);
- scoring: sigmoid(bias + Σ tf·w) with the weight vector as a
  constant-`buckets`-row RELATION broadcast to the scan — no driver
  model object, same discipline as the unigram/bigram LM scorers;
- training: batch-gradient-descent logistic regression implemented
  entirely as DataFrame ops (predict join → per-doc error → per-
  bucket gradient groupBy), iterated with the same localCheckpoint
  lineage discipline as connected-components and distributed BPE.
  Deterministic: zero init, fixed step, no sampling.

At 100 TB: features are (doc, bucket, tf) — linear in corpus tokens,
bucket-bounded per doc; each GD iteration is two shuffles (doc-keyed
error, bucket-keyed gradient) plus a broadcast of the B-row weight
relation; B is a constant (default 1024), so model state never grows
with the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import tracked_persist
from .sampling import md5_bucket

_BUCKET_DIGITS = 4  # 16^4 = 65536 >> any practical B


def word_bucket(word: Column, buckets: int = 1024) -> Column:
    """THE feature-hash bucket expression: md5 hex prefix mod
    `buckets`. Exported so every consumer of a trained weight relation
    (hashed_tf here, DSIR bucket weights, streaming's per-row scoring
    form) shares one formula — a scorer that re-implements it inline
    with a different `buckets` silently diverges from the model it was
    trained against (the ADVICE-r5 streaming finding)."""
    return md5_bucket(word, _BUCKET_DIGITS) % buckets


def hashed_tf(
    df: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 1024,
) -> DataFrame:
    """(id, b, tf) hashed bag-of-words features, divided by the doc's
    token count (fasttext-style mean pooling) so long docs don't
    dominate the dot product."""
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "")
        ).alias("_w"),
    )
    feats = toks.groupBy(
        id_col, word_bucket(F.col("_w"), buckets).alias("b")
    ).agg(F.count("*").cast("double").alias("tf"))
    totals = feats.groupBy(id_col).agg(F.sum("tf").alias("_n"))
    return feats.join(totals, id_col).select(
        id_col, "b", (F.col("tf") / F.col("_n")).alias("tf")
    )


def _sigmoid(x: Column) -> Column:
    return 1.0 / (1.0 + F.exp(-x))


def predict(
    features: DataFrame, id_col: str, weights: DataFrame, bias: float = 0.0
) -> DataFrame:
    """(id, score): sigmoid(bias + Σ tf·w). `weights` is a (b, w)
    relation — broadcast (constant B rows); missing buckets contribute
    nothing (left join, zero fill)."""
    return (
        features.join(F.broadcast(weights), "b", "left")
        .groupBy(id_col)
        .agg(
            _sigmoid(
                F.sum(F.col("tf") * F.coalesce(F.col("w"), F.lit(0.0))) + bias
            ).alias("score")
        )
    )


def fit_logreg(
    features: DataFrame,
    labels: DataFrame,
    id_col: str,
    label_col: str,
    buckets: int = 1024,
    iters: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
) -> DataFrame:
    """Batch-GD logistic regression over hashed features, pure
    DataFrame ops. Returns the learned (b, w) weight relation.

    Per iteration: score docs against the current broadcast weights,
    per-doc error (p - y), per-bucket gradient Σ tf·err / N (+ l2·w),
    vectorized weight update, localCheckpoint to keep the plan flat.
    The features relation is persisted once — every iteration rescans
    the materialized frame, not the corpus."""
    # lazy: the n_docs count below is the first consumer and fills the
    # cache; every GD iteration then reads the materialized frame
    feats = tracked_persist(
        features.join(labels.select(id_col, label_col), id_col),
        eager=False,
    )
    n_docs = feats.select(id_col).distinct().count()
    if n_docs == 0:
        raise ValueError(
            "fit_logreg: empty training set (no feature rows joined a label)"
        )
    spark = features.sparkSession
    weights = spark.range(0).select(
        F.col("id").cast("long").alias("b"), F.lit(0.0).alias("w")
    )
    for _ in range(iters):
        scored = (
            feats.join(F.broadcast(weights), "b", "left")
            .groupBy(id_col, label_col)
            .agg(
                _sigmoid(
                    F.sum(F.col("tf") * F.coalesce(F.col("w"), F.lit(0.0)))
                ).alias("_p")
            )
            .select(
                F.col(id_col),
                (F.col("_p") - F.col(label_col).cast("double")).alias("_err"),
            )
        )
        grad = (
            feats.join(scored, id_col)
            .groupBy("b")
            .agg((F.sum(F.col("tf") * F.col("_err")) / n_docs).alias("_g"))
        )
        weights = (
            grad.join(weights, "b", "full")
            .select(
                "b",
                (
                    F.coalesce(F.col("w"), F.lit(0.0)) * (1.0 - lr * l2)
                    - lr * F.coalesce(F.col("_g"), F.lit(0.0))
                ).alias("w"),
            )
            .localCheckpoint()
        )
    return weights


def quality_classifier_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    buckets: int = 1024,
    bias: float = 0.0,
) -> DataFrame:
    """Score every document with a (b, w) weight relation — the
    inference pass a curation run applies corpus-wide after training
    (or after deriving naive-Bayes weights from DSIR's per-bucket
    log-likelihood ratios, which this composes with directly)."""
    return predict(
        hashed_tf(df, id_col, text_col, buckets=buckets), id_col, weights, bias
    )


def grouped_auc(
    df: DataFrame,
    group_col: str,
    label_col: str,
    score_col: str,
) -> DataFrame:
    """Distributed AUC (Mann-Whitney with exact tie handling) per
    group — the classifier-evaluation metric, computed WITHOUT
    per-row ranks: one data-sized groupBy collapses rows to
    (group, score, pos, neg), and the rank-sum identity
    AUC = Σ_s pos_s·(2·cum_neg_below_s + neg_s) / (2·P·N) runs on the
    distinct-score relation (ties contribute neg_s/2 via the ·2
    scaling — all-integer arithmetic until the final division). The
    cumulative window scans only distinct scores per group, so scores
    must be discrete/bucketed (int scores here; bucket continuous
    scores first — same contract as histogram_quantiles). Integer
    products stay exact up to ~3e9 positives x negatives per group
    (bigint bound); beyond that pre-scale to double.

    Output: (group, n_pos, n_neg, auc) — auc rounded 6dp; NULL auc
    for one-class groups (no pairs to rank)."""
    from pyspark.sql import Window

    lbl = F.col(label_col).cast("int")
    s = df.groupBy(group_col, F.col(score_col).alias("score")).agg(
        F.sum(lbl).cast("long").alias("pos"),
        F.sum(1 - lbl).cast("long").alias("neg"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = s.withColumn("cumneg", F.coalesce(F.sum("neg").over(w), F.lit(0)))
    a = c.groupBy(group_col).agg(
        F.sum(F.col("pos") * (2 * F.col("cumneg") + F.col("neg")))
        .cast("long")
        .alias("num"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
    )
    return a.select(
        group_col,
        "n_pos",
        "n_neg",
        F.round(
            # try_divide: a one-class group (zero positives or zero
            # negatives) has no defined AUC — emit NULL instead of an
            # ANSI DIVIDE_BY_ZERO that would abort the whole
            # evaluation job (review-r6 finding, reproduced live)
            F.try_divide(
                F.col("num").cast("double"),
                F.lit(2.0) * F.col("n_pos") * F.col("n_neg"),
            ),
            6,
        ).alias("auc"),
    )
