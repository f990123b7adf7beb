"""Candidate entity generation (P7/P8) + Levenshtein feature (P9).

Reference behavior (/root/reference/commands/SpreadsheetController.php:80-125):
a SPARQL `contains(str(?subject), '<normalized value>')` scan over DBpedia
with LIMIT 100.  At 10^12-document scale a substring scan is a cross product,
so the Spark-first design replaces it with:

  * exact blocking: broadcast hash join mention_norm == kg_labels.surface_form
    (covers clean mentions AND homonyms — all homonym entities share the
    surface form, like the reference's substring match over disambiguated URIs)
  * fuzzy blocking (typos): MinHash-LSH over character 3-grams, then exact
    Levenshtein rescoring (operators/fuzzy.py) — replaces the regex-contains
    branch (SpreadsheetController.php:91) without the O(mentions × entities)
    scan

Literal shortcut (P7, CanonicalTableAnnotator.php:1061-1098): mentions whose
NER label is NUMBER/PERCENT/MONEY/DATE/TIME are annotated directly with the
fixed DBpedia instance at aggregated_rank = 1 and skip candidate search.

Per-mention candidate cap = 100, ordered by (levenshtein asc, entity asc) for
determinism (the reference's LIMIT 100 is endpoint-order nondeterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tabbyld_spark.fixtures.kg import NER_INSTANCE
from tabbyld_spark.functions.normalize import entity_localname

CANDIDATE_CAP = 100
LITERAL_LABELS = list(NER_INSTANCE)


def split_literal_mentions(mentions: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(literal-annotated rows with entity+agg_rank, remaining mentions)."""
    is_lit = F.col("ner").isin(LITERAL_LABELS)
    lit_map = F.create_map(
        *[F.lit(x) for kv in NER_INSTANCE.items() for x in kv]
    )
    literals = mentions.filter(is_lit).select(
        "table_id",
        "col_role",
        "mention",
        "mention_norm",
        "ner",
        lit_map[F.col("ner")].alias("entity"),
        F.lit(1.0).alias("agg_rank"),
    )
    return literals, mentions.filter(~is_lit)


def exact_candidates(mentions: DataFrame, kg_labels: DataFrame) -> DataFrame:
    """Join on the normalized surface form — broadcast when the label table
    fits (size-gated; a planetary surface-form dictionary falls back to a
    shuffle join instead of OOMing the driver)."""
    from tabbyld_spark.functions.joins import adaptive_broadcast

    lab = kg_labels.select(
        F.col("surface_form").alias("mention_norm"), F.col("entity")
    )
    return mentions.join(adaptive_broadcast(lab), "mention_norm")


def with_levenshtein(cands: DataFrame) -> DataFrame:
    """P9: levenshtein(normalized mention, entity localname)
    (CanonicalTableAnnotator.php:223-237)."""
    return cands.withColumn(
        "lev", F.levenshtein(F.col("mention_norm"), entity_localname("entity"))
    )


def cap_candidates(cands: DataFrame, cap: int = CANDIDATE_CAP) -> DataFrame:
    """Per-mention top-``cap``.  Windows on the surrogate mention_key (one
    long instead of three strings) — this window's exchange also leaves the
    candidates table hash-partitioned by mention_key, which every feature
    join-back reuses (operators/features.py)."""
    from tabbyld_spark.operators.features import ensure_keys

    cands = ensure_keys(cands)
    # strings in the partition keys guard against surrogate-key collisions
    # merging two mentions' candidate pools (see aggregate.cea_top1)
    w = Window.partitionBy("mention_key", "table_id", "col_role", "mention").orderBy(
        F.asc("lev"), F.asc("entity")
    )
    return (
        cands.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )


def generate_candidates(
    mentions: DataFrame,
    kg_labels: DataFrame,
    fuzzy: DataFrame | None = None,
    cap: int = CANDIDATE_CAP,
) -> tuple[DataFrame, DataFrame]:
    """→ (literal annotations, capped scored candidates).

    ``fuzzy``: optional (mention_key, entity) pairs from the LSH blocker
    (:func:`operators.fuzzy.lsh_fuzzy_candidates`), unioned in before
    rescoring.
    """
    from tabbyld_spark.operators.features import ensure_keys

    literals, rest = split_literal_mentions(ensure_keys(mentions))
    cands = exact_candidates(rest, kg_labels)
    if fuzzy is not None:
        # fuzzy carries (mention_key, entity); rejoin the mention payload on
        # the surrogate key
        extra = fuzzy.join(rest, "mention_key")
        cands = cands.select(extra.columns).unionByName(extra)
        # dedup key includes the original strings: surrogate 64-bit keys are
        # for partitioning, but a birthday collision at 10^12-row scale must
        # not silently merge two distinct (mention, entity) pairs — the
        # strings are already co-partitioned here, so the guard is free
        cands = ensure_keys(cands).dropDuplicates(
            ["mention_key", "ent_key", "table_id", "col_role", "mention", "entity"]
        )
    return literals, cap_candidates(with_levenshtein(ensure_keys(cands)), cap)
