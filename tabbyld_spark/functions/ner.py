"""NER labeling.

The reference consumes Stanford-NLP NER tags as a parallel input sheet
(/root/reference/modules/main/models/ExcelFileForm.php:14).  The web-scale
pipeline has no NER sheet, so the engine computes labels itself:

  * literal classes (NUMBER/PERCENT/MONEY/DATE/TIME) by regex — these drive
    the reference's literal-annotation shortcut
    (/root/reference/components/CanonicalTableAnnotator.php:1061-1098)
  * named-entity classes (LOCATION/PERSON/ORGANIZATION) by a broadcast
    gazetteer derived from the KG (surface form → NER class of its entity's
    class under the NER top classes, CanonicalTableAnnotator.php:40-43);
    ambiguous surface forms resolve to the alphabetically-first label for
    determinism
  * everything else → NONE

All label logic is native column expressions + one broadcast join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tabbyld_spark.fixtures.kg import NER_CLASS
from tabbyld_spark.functions.frames import local_frame

LITERAL_RULES: list[tuple[str, str]] = [
    ("PERCENT", r"^-?\d+([.,]\d+)?%$"),
    ("MONEY", r"^\$\d+([.,]\d+)?$|^\d+([.,]\d+)?\s?(USD|EUR)$"),
    ("DATE", r"^\d{4}-\d{2}-\d{2}$|^\d{1,2}/\d{1,2}/\d{4}$"),
    ("TIME", r"^\d{1,2}:\d{2}(:\d{2})?$"),
    ("NUMBER", r"^-?\d+([.,]\d+)?$"),
]


def literal_ner(col: Column | str) -> Column:
    """Regex chain → literal NER label or NULL."""
    c = F.col(col) if isinstance(col, str) else col
    expr = F.lit(None).cast("string")
    for label, pattern in reversed(LITERAL_RULES):
        expr = F.when(c.rlike(pattern), F.lit(label)).otherwise(expr)
    return expr


def build_gazetteer(kg_labels: DataFrame, kg_types: DataFrame, kg_subclass: DataFrame) -> DataFrame:
    """(surface_form, ner) — one row per surface form, deterministic label."""
    ner_top = local_frame(
        kg_labels.sparkSession,
        [(cls_uri, label) for label, cls_uri in NER_CLASS.items()],
        "ner_top_class string, ner string",
    )
    ent_ner = (
        kg_types.join(
            kg_subclass.select(
                F.col("child").alias("class"), F.col("parent").alias("ner_top_class")
            ),
            "class",
        )
        .join(F.broadcast(ner_top), "ner_top_class")
        .select("entity", "ner")
    )
    from tabbyld_spark.functions.joins import adaptive_broadcast

    gaz = (
        kg_labels.join(ent_ner, "entity")
        .groupBy("surface_form")
        .agg(F.min("ner").alias("ner"))
    )
    # size-gate against the BASE label scan's stats: the aggregate's own
    # estimate is a multiplied non-credible number (functions/joins.py)
    return adaptive_broadcast(gaz, proxy=kg_labels)


def attach_ner(mentions: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """Fill a ``ner`` column on (…, mention, mention_norm): literal regex
    first, then broadcast gazetteer lookup on the normalized form, else NONE."""
    m = mentions.withColumn("_lit", literal_ner("mention"))
    m = m.join(
        gazetteer.withColumnRenamed("surface_form", "mention_norm")
        .withColumnRenamed("ner", "_gaz"),
        "mention_norm",
        "left",
    )
    return m.withColumn(
        "ner", F.coalesce(F.col("_lit"), F.col("_gaz"), F.lit("NONE"))
    ).drop("_lit", "_gaz")
