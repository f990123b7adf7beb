"""The KG publish plan — what happens between "triples computed" and
"snapshot readable by consumers", composed from the round-4 KG operators:

    P1 entail     RDFS ρdf materialization (operators/entailment.py) —
                  consumers read plain triples, no query-time reasoning
    P2 gate       integrity profile (operators/kgquery.py) over the
                  SATURATED graph: functional violations, dangling entity
                  references, disjoint-class conflicts.  Any violation
                  aborts the publish BEFORE a manifest flips — the
                  snapshot either passes the gate or does not exist
    P3 commit     triples + derived triples + the curation stats tables
                  (operators/kgstats.py predicate profile) committed
                  through the catalog with per-table lineage
    P4 compact    small-files rewrite of the published triples table
                  (catalog.compact) so the first consumer scan is not
                  paying the producer's partitioning

Each stage is a catalog commit, so a killed publish resumes from the last
committed table (the ``run_pipeline_resumable`` pattern); the gate failure
path raises with the violation profile attached and leaves the catalog
exactly as it was.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tabbyld_spark.functions.lineage import cut
from tabbyld_spark.operators.entailment import rdfs_entailment
from tabbyld_spark.operators.kgquery import kg_integrity_profile
from tabbyld_spark.operators.kgstats import predicate_stats

__all__ = ["KGPublishError", "publish_kg"]


class KGPublishError(RuntimeError):
    """Integrity gate failed; carries the violating rows."""

    def __init__(self, violations: list):
        self.violations = violations
        preview = ", ".join(
            f"{v['check']}:{v['key']}" for v in violations[:5]
        )
        more = "" if len(violations) <= 5 else f" (+{len(violations) - 5} more)"
        super().__init__(f"KG integrity gate failed: {preview}{more}")


@dataclass
class PublishResult:
    table: str
    n_input: int
    n_derived: int
    snapshot: str
    compacted_snapshot: str | None = None
    stats_table: str = ""


def publish_kg(
    spark: SparkSession,
    catalog,
    triples: DataFrame,
    table: str = "kg_triples",
    subclass: DataFrame | None = None,
    subproperty: DataFrame | None = None,
    domain: DataFrame | None = None,
    range_: DataFrame | None = None,
    functional_preds: tuple[str, ...] = (),
    entity_prefix: str | None = None,
    disjoint_pairs: tuple[tuple[str, str], ...] = (),
    entity_prefixes: tuple[str, ...] = (),
    max_violations_reported: int = 100,
    compact_target_rows: int | None = 1_000_000,
) -> PublishResult:
    """Entail → gate → commit → compact.  Returns the publish record; raises
    :class:`KGPublishError` (catalog untouched) when the gate trips."""
    # cut once each: the derived count and the saturated graph read the
    # derived triples; the gate and the commit read the saturated graph
    derived = cut(rdfs_entailment(
        triples,
        subclass=subclass,
        subproperty=subproperty,
        domain=domain,
        range_=range_,
        entity_prefixes=entity_prefixes,
    ))
    saturated = cut(triples.unionByName(derived).distinct())

    checks_enabled = bool(functional_preds or disjoint_pairs) or (
        entity_prefix is not None
    )
    if checks_enabled:
        # functional/disjoint run over the SATURATED graph (inherited
        # properties and derived types must not violate either), but the
        # dangling-reference check runs over the INPUT triples: the rdfs3
        # range rule mints (obj, rdf:type, C) triples that turn a
        # referenced-but-undescribed entity into a subject, silently masking
        # exactly the danglers the gate exists to catch whenever range_
        # covers the referencing predicate.  "Described" means the producer
        # wrote triples about it — not that the reasoner typed it.
        profiles: list[DataFrame] = []
        if functional_preds or disjoint_pairs:
            profiles.append(
                kg_integrity_profile(
                    saturated,
                    functional_preds=list(functional_preds),
                    entity_prefix=None,
                    disjoint_pairs=list(disjoint_pairs),
                )
            )
        if entity_prefix is not None:
            profiles.append(
                kg_integrity_profile(
                    triples,
                    functional_preds=(),
                    entity_prefix=entity_prefix,
                    disjoint_pairs=(),
                )
            )
        profile = profiles[0]
        for p in profiles[1:]:
            profile = profile.unionByName(p)
        violations = [r.asDict() for r in profile.limit(max_violations_reported).collect()]
        if violations:
            raise KGPublishError(violations)

    n_input = triples.count()
    n_derived = derived.count()
    snap = catalog.write(
        saturated,
        table,
        lineage={"op": "publish", "n_input": n_input, "n_derived": n_derived},
    )
    stats_table = f"{table}_pred_stats"
    catalog.write(
        predicate_stats(catalog.read(spark, table)),
        stats_table,
        lineage={"op": "publish-stats", "source": table, "snapshot": snap},
    )
    compacted = None
    if compact_target_rows is not None and hasattr(catalog, "compact"):
        compacted = catalog.compact(
            spark, table, target_rows_per_file=int(compact_target_rows)
        )
    return PublishResult(
        table=table,
        n_input=n_input,
        n_derived=n_derived,
        snapshot=snap,
        compacted_snapshot=compacted,
        stats_table=stats_table,
    )
