"""Trainable text quality classifier — hashed-feature logistic regression.

The quality filters modern corpora ship with are linear classifiers over
bag-of-n-gram features: fastText supervision in CCNet ("looks like
Wikipedia"), the FineWeb-Edu educational-quality scorer, GPT-3's
WebText-vs-CommonCrawl filter.  The repo's DSIR operator covers the
generative (two-LM) route; this module adds the DISCRIMINATIVE one, with
the same determinism contract hogwild SGD cannot give:

* features: the hashed word unigram+bigram counts of
  ``importance.hashed_ngram_counts`` (engine-portable md5 buckets);
* training: FULL-BATCH gradient descent on L2-regularized logistic loss,
  fixed iteration count and learning rate.  The weight vector lives
  DRIVER-SIDE and enters each iteration either as a literal map (small
  models — no join at all) or, past ``weight_literal_max`` touched
  weights, as a broadcast-joined (bucket, w) frame so the Catalyst plan
  stays O(1) in the bucket count; no per-round
  lineage cut; one iteration is exactly ONE Spark action (the doc-grain
  margin aggregate, the residual join, and the bucket-grain gradient all
  execute inside the single job that collects the ≤``n_buckets``+1
  gradient rows, the intercept gradient riding along as a sentinel row).
  No RNG, no sampling, no race: the trained weights are a pure function
  of (corpus, labels, hyperparameters), so retries, re-shards, and
  re-runs fit the identical model — verified against an
  identical-algorithm numpy reference in ``tests/test_classifier.py``;
* scoring: one broadcast join + doc-grain aggregate → per-doc probability;
  the filter is then a zero-shuffle threshold predicate.

Scale shape per iteration: the corpus-side work is two aggregations at
(doc) and (bucket) grain over the cached feature rows; the weight vector
(``n_buckets`` floats) rides a broadcast join each way.  Feature rows are
computed ONCE and cached — iterations never re-tokenize.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tabbyld_spark.functions.frames import local_frame
from tabbyld_spark.functions.lineage import cut
from tabbyld_spark.operators.importance import hashed_ngram_counts

__all__ = ["train_text_classifier", "score_text_classifier", "TextClassifier"]


class TextClassifier(NamedTuple):
    """(bucket, w) weight table + intercept; n_buckets for feature replay."""

    weights: DataFrame
    intercept: float
    n_buckets: int


def _margins(feats: DataFrame, weights: DataFrame, intercept: float) -> DataFrame:
    """(doc_id, bucket, cnt) × (bucket, w) → (doc_id, margin)."""
    return (
        feats.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.col("cnt") * F.coalesce(F.col("w"), F.lit(0.0)))
                + F.lit(float(intercept))
            ).alias("margin")
        )
    )


def train_text_classifier(
    docs: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    n_iters: int = 30,
    lr: float = 0.5,
    l2: float = 1e-4,
    weight_literal_max: int = 10_000,
) -> TextClassifier:
    """Fit logistic regression on hashed n-gram counts → TextClassifier.

    ``label_col`` is 0/1.  Feature counts are L1-normalized per document
    (the fastText convention — long documents must not dominate the
    gradient), and the learning rate is scaled by 1/n_docs inside the
    gradient, so ``lr`` transfers across corpus sizes.

    Featureless docs (empty/whitespace text) still train the intercept:
    each contributes a zero-feature SENTINEL row, so its residual enters
    the intercept gradient exactly as in the pinned numpy reference —
    ``n_docs`` and the residual sum always agree on the same population.

    Count-gated weight transport: while the touched-weight count is at most
    ``weight_literal_max`` the vector enters the plan as a ``create_map``
    literal (zero join, the cheapest shape for the few-thousand-bucket
    default); past the gate each iteration materializes the weights as a
    broadcast-joined (bucket, w) frame instead — plan size stays O(1) in
    the bucket count, which is what a fastText-realistic 10⁶-bucket model
    needs (a 10⁶-entry literal map breaks codegen long before data size
    matters).  Same math, same single action per iteration either way."""
    from pyspark.sql import Window

    sess = docs.sparkSession
    labeled = docs.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).cast("double").alias("y")
    )
    raw = hashed_ngram_counts(docs, n_buckets, text_col, id_col)
    doc_tot = raw.groupBy("doc_id").agg(F.sum("cnt").alias("tot"))
    # labels ride the cached feature rows: iterations never join or re-read
    featful = (
        raw.join(doc_tot, "doc_id")
        .join(labeled, "doc_id")
        .select(
            "doc_id", "bucket", (F.col("cnt") / F.col("tot")).alias("cnt"), "y"
        )
    )
    # featureless docs: one sentinel row each (bucket -2, cnt 0) — margin is
    # the bare intercept, the bucket gradient gets cnt·r = 0, and the
    # intercept gradient gets the doc's full residual (nrows = 1)
    sentinel = (
        labeled.join(raw.select("doc_id").distinct(), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.lit(-2).cast("long").alias("bucket"),
            F.lit(0.0).alias("cnt"),
            "y",
        )
    )
    # pre-shape the cached rows for the per-iteration doc window: hash
    # partition + sort on doc_id ONCE before the cut (the cut preserves
    # partitioning and ordering — functions/lineage.py), so every
    # iteration's Window.partitionBy("doc_id") reads the cached blocks
    # without its own exchange+sort; at n_iters=30 that removes 30
    # shuffles of the feature rows
    feats = cut(
        featful.unionByName(sentinel)
        .repartition("doc_id")
        .sortWithinPartitions("doc_id")
    )
    n_docs = labeled.count()
    win = Window.partitionBy("doc_id")
    w: dict[int, float] = {}
    intercept = 0.0
    for _ in range(int(n_iters)):
        staged_src = feats
        if not w:
            wexpr = F.lit(0.0)
        elif len(w) <= int(weight_literal_max):
            pairs = [x for k, v in sorted(w.items()) for x in (F.lit(k), F.lit(v))]
            wm = F.create_map(*pairs)
            wexpr = F.coalesce(F.try_element_at(wm, F.col("bucket")), F.lit(0.0))
        else:
            wdf = local_frame(sess, sorted(w.items()), "bucket long, _w double")
            staged_src = feats.join(F.broadcast(wdf), "bucket", "left")
            wexpr = F.coalesce(F.col("_w"), F.lit(0.0))
        # doc margin via a window over the feature rows (no corpus join),
        # residual per row, then ONE bucket-grain aggregate collects the
        # gradient — the intercept gradient rides as a sentinel bucket, each
        # row contributing its doc's residual divided by the doc's row count
        staged = staged_src.select(
            "bucket",
            "cnt",
            "y",
            (F.sum(F.col("cnt") * wexpr).over(win) + F.lit(float(intercept))).alias(
                "margin"
            ),
            F.count(F.lit(1)).over(win).alias("nrows"),
        )
        r = F.col("y") - F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))
        contrib = staged.select(
            F.explode(
                F.array(
                    F.struct(F.col("bucket"), (F.col("cnt") * r).alias("v")),
                    F.struct(
                        F.lit(-1).cast("long").alias("bucket"),
                        (r / F.col("nrows")).alias("v"),
                    ),
                )
            ).alias("c")
        )
        rows = (
            contrib.groupBy(F.col("c.bucket").alias("bucket"))
            .agg((F.sum("c.v") / F.lit(float(n_docs))).alias("g"))
            .collect()
        )  # ONE action per iteration
        b0 = 0.0
        g_by_bucket: dict[int, float] = {}
        for r_ in rows:
            if r_["bucket"] == -1:
                b0 = float(r_["g"] or 0.0)
            elif r_["bucket"] == -2:
                pass  # featureless-doc sentinel: cnt·r ≡ 0, no weight exists
            else:
                g_by_bucket[int(r_["bucket"])] = float(r_["g"] or 0.0)
        decay = 1.0 - lr * l2
        touched = set(w) | set(g_by_bucket)
        w = {
            k: w.get(k, 0.0) * decay + lr * g_by_bucket.get(k, 0.0)
            for k in touched
        }
        intercept = intercept + float(lr) * b0
    weights = local_frame(sess, sorted(w.items()), "bucket long, w double")
    return TextClassifier(weights=weights, intercept=intercept, n_buckets=n_buckets)


def score_text_classifier(
    docs: DataFrame,
    model: TextClassifier,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (doc_id, margin, prob): every doc scored under the model (same
    L1-normalized features as training); feature-less docs score the
    intercept alone.  Filtering is then ``prob >= t`` — zero shuffle."""
    raw = hashed_ngram_counts(docs, model.n_buckets, text_col, id_col)
    doc_tot = raw.groupBy("doc_id").agg(F.sum("cnt").alias("tot"))
    feats = raw.join(doc_tot, "doc_id").select(
        "doc_id", "bucket", (F.col("cnt") / F.col("tot")).alias("cnt")
    )
    scored = _margins(feats, model.weights, model.intercept)
    base = docs.select(F.col(id_col).alias("doc_id"))
    return (
        base.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("margin", F.lit(float(model.intercept))).alias("margin"),
        )
        .withColumn("prob", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))))
    )
