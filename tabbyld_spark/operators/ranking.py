"""Text ranking over the documents table — TF-IDF and BM25 as pure
DataFrame aggregations (no UDFs; every step is codegen'd JVM arithmetic).

The reference has no retrieval layer — its nearest analogue is the heuristic
feature ranking over candidate entities (components/CanonicalTableAnnotator
.php:824-868).  A web-scale training-data pipeline, however, needs corpus
ranking constantly (quality-weighted sampling, query-based subset selection,
dedup tie-breaking), so these ship as first-class operators.

Scale shape: one explode + one (doc, term) groupBy — the shuffle keys on
content-derived terms (uniform-ish; stopword-frequency skew is bounded by
``max_df``), document frequencies are a second, much smaller aggregate, and
the corpus-level scalars (N, avgdl) travel via a broadcast single-row join,
never a driver collect.

Formulas (documented so the DuckDB twin is exact):
  tf-idf:  tf * (ln((N + 1) / (df + 1)) + 1)      (smoothed idf, sklearn-style)
  BM25:    idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
           idf = ln((N - df + 0.5) / (df + 0.5) + 1)   (Robertson-Sparck Jones, +1 floor)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tabbyld_spark.functions.frames import local_frame
from tabbyld_spark.operators.textstats import tokens


def term_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, term, tf) — lowercased whitespace terms."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(text_col)).alias("t"),
        )
        .filter(F.col("t") != "")
        .select("doc_id", F.lower("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tf_idf(
    docs: DataFrame,
    max_df_ratio: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, term, tf, df, tfidf).  ``max_df_ratio`` drops terms present
    in more than that fraction of documents (boilerplate/stopword skew guard
    — the same document-frequency cap idea as dedup's shingle index)."""
    tc = term_counts(docs, text_col, id_col)
    n_docs = docs.select(F.countDistinct(id_col).alias("n")).withColumn("_one", F.lit(1))
    dfreq = tc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    out = (
        tc.join(dfreq, "term")
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(n_docs), "_one")
        .filter(F.col("df") <= F.col("n") * max_df_ratio)
        .withColumn(
            "tfidf",
            F.col("tf") * (F.log((F.col("n") + 1) / (F.col("df") + 1)) + 1),
        )
    )
    return out.select("doc_id", "term", "tf", "df", "tfidf")


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, score) for one query (bag of terms) over the corpus."""
    spark = docs.sparkSession
    tc = term_counts(docs, text_col, id_col)
    dl = tc.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).withColumn("_one", F.lit(1))
    q = local_frame(spark, [(t.lower(),) for t in sorted(set(query_terms))], "term string")
    dfreq = tc.join(F.broadcast(q), "term").groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    hits = (
        tc.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .withColumn("_one", F.lit(1))
        .join(F.broadcast(stats), "_one")
    )
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    score = (
        idf
        * F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return hits.groupBy("doc_id").agg(F.sum(score).alias("score"))


def bm25_topk(
    docs: DataFrame, query_terms: list[str], k: int = 20, **kw
) -> DataFrame:
    """Top-k docs for the query, deterministic tiebreak (score desc, id asc).

    sort+limit compiles to TakeOrderedAndProject (per-partition top-k then a
    single k-row merge — no global sort shuffle); the rank window then runs
    over k rows only, so the unpartitioned window is not a scale hazard."""
    scored = bm25_scores(docs, query_terms, **kw)
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "doc_id", "score", "rank"
    )
