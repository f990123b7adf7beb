"""End-to-end KG-construction pipeline (BASELINE.json north_star stages).

  S1 pages → text + table regions   (extract, pandas UDF — the only Python)
  S2 canonicalize + mentions + NER  (explode / window / broadcast join)
  S3 candidate generation           (broadcast exact + LSH fuzzy blocking)
  S4 feature scoring                (joins + aggs, P9-P17)
  S5 CEA / CTA / CPA                (window top-1 + vote aggs, P18-P20)
  S6 triple emission                (P24)

The reference executes these as hard-coded PHP calls with process fan-out and
DB-polling barriers (/root/reference/components/CanonicalTableAnnotator.php:
1019-1299); here each stage is a DataFrame transformation and every barrier
is a shuffle boundary Catalyst schedules.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tabbyld_spark.extract.html import extract_pages
from tabbyld_spark.functions.lineage import cut
from tabbyld_spark.functions.ner import attach_ner, build_gazetteer
from tabbyld_spark.operators import features as FT
from tabbyld_spark.operators.aggregate import aggregate_ranks, cea_top1, cpa_vote, cta_vote
from tabbyld_spark.operators.candidates import generate_candidates
from tabbyld_spark.operators.canonical import tables_to_canonical
from tabbyld_spark.operators.mentions import all_mentions, entry_context
from tabbyld_spark.operators.triples import emit_triples


@dataclass
class AnnotationResult:
    canonical: DataFrame
    mentions: DataFrame
    candidates: DataFrame
    cea: DataFrame
    cta: DataFrame
    cpa: DataFrame
    triples: DataFrame


def annotate_canonical(
    canonical: DataFrame,
    kg: dict[str, DataFrame],
    provided_ner: bool = False,
    fuzzy_enabled: bool = True,
) -> AnnotationResult:
    """Annotate canonical tables against the KG (S2-S6)."""
    mentions = all_mentions(canonical, provided_ner=provided_ner)
    if not provided_ner:
        gaz = build_gazetteer(kg["kg_labels"], kg["kg_types"], kg["kg_subclass"])
        mentions = attach_ner(mentions, gaz)
    # cut lineage at stage boundaries: the mention/candidate sets feed
    # several downstream joins each — without a checkpoint the reused subplan
    # re-optimizes and re-executes per consumer and the plan tree explodes
    mentions = cut(mentions)

    fuzzy = None
    if fuzzy_enabled:
        from tabbyld_spark.operators.fuzzy import lsh_fuzzy_candidates

        fuzzy = lsh_fuzzy_candidates(mentions, kg["kg_labels"])
    literals, cands = generate_candidates(mentions, kg["kg_labels"], fuzzy=fuzzy)
    # materialize the capped candidates once and COUNT them: the count is an
    # exact upper bound on every per-candidate feature aggregate, which lets
    # each feature join-back pick broadcast vs sort-merge from real numbers
    # instead of Catalyst's non-credible derived-plan estimates (features.py
    # _join_back; the blanket merge hint this replaces cost 45% pipeline wall
    # time at bench scale, and the blanket broadcast it reverts OOM'd at 160k
    # pages).  The count itself scans the just-checkpointed blocks — cheap.
    cands = cut(cands)
    n_cands = cands.count()
    # P10+P11 fused: one wide-table join-back instead of two (features.py)
    cands = FT.base_feature_ranks(
        cands, kg["kg_types"], kg["kg_subclass"], feat_rows=n_cands
    )
    cands = cut(cands)

    ectx = entry_context(canonical)
    kctx = FT.entity_context(cands, kg["kg_triples"])
    # checkpoint after each feature that the next stage consumes more than
    # once: semantic_similarity self-joins its input three ways, and without a
    # materialization boundary Spark re-executes the whole upstream subplan
    # per occurrence (no cross-operator CSE) — measured 354s → 230s at 2 cores
    cands = cut(FT.context_similarity(cands, ectx, kctx, feat_rows=n_cands))
    pcl = FT.parent_classes(cands, kg["kg_triples"])
    cands = cut(FT.semantic_similarity(cands, pcl, feat_rows=n_cands))

    scored = aggregate_ranks(cands)
    cea = cut(cea_top1(scored, literals))
    # exact count of the just-checkpointed CEA: gates a broadcast of the
    # winner sides in the CTA/CPA votes so the wide canonical scans join
    # without shuffling (scans the materialized blocks — cheap)
    n_cea = cea.count()
    # the votes are returned AND read again by emit_triples: without a cut a
    # caller that commits cta, cpa and the triples runs each vote twice.
    # Lazy, so a caller that reads only the CEA never runs the votes at all.
    cta = cut(cta_vote(cea, canonical, kg["kg_types"], cea_rows=n_cea), eager=False)
    cpa = cut(cpa_vote(cea, canonical, kg["kg_triples"], cea_rows=n_cea), eager=False)
    triples = emit_triples(cea, cta, cpa)
    return AnnotationResult(canonical, mentions, scored, cea, cta, cpa, triples)


def annotate_pages(
    pages: DataFrame,
    kg: dict[str, DataFrame],
    fuzzy_enabled: bool = True,
) -> AnnotationResult:
    """Full S1-S6 from the raw pages table."""
    extracted = extract_pages(pages)
    canonical = cut(tables_to_canonical(extracted))
    return annotate_canonical(
        canonical, kg, provided_ner=False, fuzzy_enabled=fuzzy_enabled
    )


def run_pipeline_resumable(
    spark,
    pages: DataFrame,
    kg: dict[str, DataFrame],
    catalog,
    fuzzy_enabled: bool = True,
) -> DataFrame:
    """S1-S6 with a snapshot commit per stage (S8 resume semantics): kill the
    job at any stage boundary and a rerun resumes from the last committed
    snapshot, reproducing identical final triples."""
    canonical = catalog.run_stage(
        spark,
        "canonical",
        lambda: tables_to_canonical(extract_pages(pages)),
        lineage={"stage": "S1-S2", "input": "pages"},
    )

    def _annotate() -> DataFrame:
        res = annotate_canonical(
            canonical, kg, provided_ner=False, fuzzy_enabled=fuzzy_enabled
        )
        catalog.write(res.cea, "cea", lineage={"stage": "S5", "input": "canonical"})
        catalog.write(res.cta, "cta", lineage={"stage": "S5", "input": "cea"})
        catalog.write(res.cpa, "cpa", lineage={"stage": "S5", "input": "cea"})
        return res.triples

    return catalog.run_stage(
        spark, "triples", _annotate, lineage={"stage": "S6", "input": "cea"}
    )


def pipeline_metrics(result: AnnotationResult) -> DataFrame:
    """Per-table lineage/metrics rows (S8): cell/mention/candidate/triple
    counts at table grain."""
    m = result.mentions.groupBy("table_id").agg(F.count(F.lit(1)).alias("n_mentions"))
    c = result.candidates.groupBy("table_id").agg(F.count(F.lit(1)).alias("n_candidates"))
    a = result.cea.groupBy("table_id").agg(F.count(F.lit(1)).alias("n_annotated"))
    return m.join(c, "table_id", "left").join(a, "table_id", "left").fillna(0)


def persist_evaluation(
    catalog,
    result: AnnotationResult,
    gold_cea: DataFrame,
    gold_cta: DataFrame,
    gold_cpa: DataFrame,
    runtimes: dict[str, float] | None = None,
) -> dict[str, str]:
    """Commit accuracy/P/R/F1 metric rows at both reference grains
    (per-table AnnotatedCanonicalTable and per-dataset AnnotatedDataset,
    SpreadsheetController.php:702-742) as catalog snapshots, with stage wall
    times in the commit lineage.  Returns the snapshot ids."""
    from tabbyld_spark.operators.evaluate import dataset_metrics, evaluate_tables

    runtimes = runtimes or {}
    per_table = evaluate_tables(
        result.cea, result.cta, result.cpa, gold_cea, gold_cta, gold_cpa
    )
    # one computation feeds both grains: the dataset rollup reads the
    # committed per-table snapshot, not the live (recomputing) plan
    t_snap = catalog.write(
        per_table, "metrics_tables", lineage={"stage": "S8", "runtimes": runtimes}
    )
    committed = catalog.read(result.cea.sparkSession, "metrics_tables")
    d_snap = catalog.write(
        dataset_metrics(committed, runtime_sec=sum(runtimes.values()) or None),
        "metrics_dataset",
        lineage={"stage": "S8", "runtimes": runtimes},
    )
    return {"metrics_tables": t_snap, "metrics_dataset": d_snap}
