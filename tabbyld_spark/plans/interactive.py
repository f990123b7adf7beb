"""Single-table interactive entry point — the web upload path analogue.

The reference's web UI (`/root/reference/modules/main/controllers/
DefaultController.php:actionAnnotateTable`) accepts ONE uploaded workbook,
saves it, runs the very same ``spreadsheet/annotate`` console command in the
background, and renders per-cell views: the canonical data plus, for each of
the three roles (data / row heading / column heading), the linked entity per
cell and the candidate query results.  There is no distinct algorithm —
presentation over the batch chain — so the Spark analogue is a one-call
convenience that parses the workbook bytes driver-side (one table; no
cluster scan needed), runs :func:`annotate_canonical`, and returns exactly
the frames the page renders."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tabbyld_spark.functions.frames import local_frame


@dataclass
class InteractiveResult:
    """The annotate-table page's render model, as DataFrames.

    ``annotated``: canonical rows with winning-entity URI substitution (the
    table the page shows).  ``cell_entities``: (col_role, mention, entity,
    agg_rank) — the three ``*_entities`` arrays, keyed by role.
    ``candidate_results``: per-cell candidate lists with every feature rank
    (the ``*_concept_query_results`` arrays).  ``triples``/``cta``/``cpa``
    ride along for the export button."""

    annotated: DataFrame
    cell_entities: DataFrame
    candidate_results: DataFrame
    triples: DataFrame
    cta: DataFrame
    cpa: DataFrame


def annotate_workbook(
    spark: SparkSession,
    data: bytes,
    kg: dict[str, DataFrame],
    table_id: str = "uploaded-table",
    provided_ner: bool = True,
    fuzzy_enabled: bool = False,
) -> InteractiveResult:
    """One uploaded workbook (reference 3-sheet layout) → per-cell
    annotation views.  Single-table grain: the workbook is parsed with the
    stdlib reader on the driver (the batch/scale path stays
    ``xlsx_dataset_to_canonical``'s executor-side ``mapInPandas``)."""
    from tabbyld_spark.operators.triples import annotate_rows
    from tabbyld_spark.plans.pipeline import annotate_canonical
    from tabbyld_spark.sources.xlsx import CANONICAL_SCHEMA, workbook_to_canonical_rows

    rows = workbook_to_canonical_rows(table_id, data)
    canonical = local_frame(spark, rows, CANONICAL_SCHEMA)
    res = annotate_canonical(
        canonical, kg, provided_ner=provided_ner, fuzzy_enabled=fuzzy_enabled
    )
    cand_cols = [
        c
        for c in res.candidates.columns
        if c in ("col_role", "mention", "entity", "lev", "ner_rank",
                 "heading_rank", "ctx_rank", "sem_rank", "rel_rank", "agg_rank")
    ]
    return InteractiveResult(
        annotated=annotate_rows(canonical, res.cea),
        cell_entities=res.cea.select("col_role", "mention", "entity", "agg_rank"),
        candidate_results=res.candidates.select(*cand_cols).orderBy(
            "col_role", "mention", F.desc("agg_rank") if "agg_rank" in cand_cols else F.asc("entity")
        ),
        triples=res.triples,
        cta=res.cta,
        cpa=res.cpa,
    )
