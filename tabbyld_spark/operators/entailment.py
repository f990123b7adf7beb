"""RDFS entailment materialization — the forward-chaining reasoning pass a
KG build runs before publishing a snapshot.

The reference leans on DBpedia's endpoint to answer ``rdfs:subClassOf*``
paths at query time (``commands/SpreadsheetController.php:242-246``); a
web-scale build MATERIALIZES the standard RDFS entailments once so every
downstream consumer reads plain triples.  Implemented rule subset (the
ρdf core — Muñoz, Pérez & Gutierrez 2007, the fragment real triple stores
materialize):

* rdfs5 + rdfs7 — ``subPropertyOf`` transitivity, then property
  inheritance: (p ⊑ q), (s p o) ⇒ (s q o)
* rdfs2 — domain: (p domain C), (s p o) ⇒ (s type C)
* rdfs3 — range:  (p range C),  (s p o) ⇒ (o type C)
* rdfs9 + rdfs11 — ``subClassOf`` transitivity, then type inheritance:
  (s type C), (C ⊑ D) ⇒ (s type D)

Stratification makes one pass reach the fixpoint for this fragment:
property inheritance first (it mints new (s q o) triples that feed
domain/range), then domain/range (they mint type triples), then class
inheritance (type triples only beget type triples — nothing flows back).
Both ⊑-closures reuse :func:`operators.closure.subclass_closure`
(O(log diameter) doubling); ontology tables are schema-sized and
broadcast, so every rule is a broadcast join over one scan of the triple
selection it needs — the corpus never shuffles for reasoning.

Deterministic (pure joins + distinct), SQL-twinnable (driver oracle
``q_rdfs_entail`` re-derives every rule with a recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tabbyld_spark.operators.closure import subclass_closure

__all__ = ["rdfs_entailment"]

RDF_TYPE = "rdf:type"


def _closure_pairs(
    edges: DataFrame | None,
    driver_max: int = 100_000,
    driver_max_pairs: int = 2_000_000,
) -> DataFrame | None:
    """(child, parent) edges → strict-ancestor pairs (depth ≥ 1).

    Size-gated hybrid: ontology edge sets are schema-sized, so when the
    edge set fits ``driver_max`` rows the transitive closure runs
    driver-side on the collected edges — identical pairs, none of the
    iterative loop's ~2-jobs-per-round latency (the dominant cost of
    q_rdfs_entail was two such loops over <10 edges).
    Larger hierarchies take :func:`closure.subclass_closure`'s
    O(log diameter) distributed doubling unchanged.

    The edge gate alone cannot bound the MEMORY of the driver path: a deep
    hierarchy's closure is O(V × avg-ancestors) pairs — 100k edges can
    close to 10⁸⁺ pairs (a driver OOM) while passing the edge gate.  So
    the closure build also aborts to the distributed path the moment the
    accumulated pair set exceeds ``driver_max_pairs`` (identical output
    either way; the abort costs only the partial build)."""
    if edges is None:
        return None
    sess = edges.sparkSession
    # one bounded collect decides the gate AND fetches the edges: at most
    # driver_max + 1 rows ever reach the driver, and a schema-sized
    # (single-partition) edge set costs one job, not a count plus a collect
    head = edges.limit(int(driver_max) + 1).collect()
    if len(head) <= int(driver_max):
        adj: dict[str, set[str]] = {}
        for r in head:
            adj.setdefault(r["child"], set()).add(r["parent"])
        pairs: set[tuple[str, str]] = set()
        overflow = False
        for start in adj:
            seen: set[str] = set()
            stack = list(adj[start])
            while stack:
                p = stack.pop()
                if p in seen:
                    continue
                seen.add(p)
                stack.extend(adj.get(p, ()))
            pairs.update((start, p) for p in seen)
            if len(pairs) > int(driver_max_pairs):
                overflow = True  # closure outgrew the driver — go distributed
                break
        if not overflow:
            return sess.createDataFrame(
                sorted(pairs), "child string, parent string"
            )
    return (
        subclass_closure(edges)
        .filter(F.col("depth") >= 1)
        .select("child", "parent")
        .distinct()
    )


def rdfs_entailment(
    triples: DataFrame,
    subclass: DataFrame | None = None,
    subproperty: DataFrame | None = None,
    domain: DataFrame | None = None,
    range_: DataFrame | None = None,
    type_pred: str = RDF_TYPE,
    entity_prefixes: tuple[str, ...] = (),
) -> DataFrame:
    """→ the DERIVED (subj, pred, obj) triples (input triples excluded;
    union back with ``unionByName(...).distinct()`` for the saturated
    graph).

    ``subclass``/``subproperty``: (child, parent) direct edges;
    ``domain``/``range_``: (pred, cls) declarations.  All four are
    schema-sized and broadcast.  ``entity_prefixes`` guards rdfs3 —
    literal-valued objects must not be typed; when given, only objects
    with one of the prefixes receive range types (the standard
    literal-guard every materializer applies)."""
    from tabbyld_spark.functions.lineage import cut

    sess = triples.sparkSession
    derived: list[DataFrame] = []

    # every rule branch consumes the triple set (and the final anti-join a
    # fifth time) — one lineage cut stops the branches re-deriving the
    # input subtree per consumer (the multi-consumer pattern
    # plans/webcorpus.py documents)
    triples = cut(triples)
    base = triples.filter(F.col("pred") != type_pred)

    # rdfs5+7: property inheritance through the subPropertyOf closure
    inherited = None
    if subproperty is not None:
        sp = _closure_pairs(subproperty).select(
            F.col("child").alias("pred"), F.col("parent").alias("new_pred")
        )
        inherited = (
            base.join(F.broadcast(sp), "pred")
            .select("subj", F.col("new_pred").alias("pred"), "obj")
        )
        derived.append(inherited)

    # domain/range see the base triples PLUS property-inherited ones
    dr_input = base if inherited is None else base.unionByName(inherited)

    if domain is not None:
        d = domain.select("pred", F.col("cls").alias("obj_cls"))
        derived.append(
            dr_input.join(F.broadcast(d), "pred").select(
                "subj",
                F.lit(type_pred).alias("pred"),
                F.col("obj_cls").alias("obj"),
            )
        )
    if range_ is not None:
        r = range_.select("pred", F.col("cls").alias("obj_cls"))
        ranged = dr_input
        if entity_prefixes:
            guard = None
            for p in entity_prefixes:
                cond = F.col("obj").startswith(p)
                guard = cond if guard is None else (guard | cond)
            ranged = ranged.filter(guard)
        derived.append(
            ranged.join(F.broadcast(r), "pred").select(
                F.col("obj").alias("subj"),
                F.lit(type_pred).alias("pred"),
                F.col("obj_cls").alias("obj"),
            )
        )

    # rdfs9+11: type inheritance through the subClassOf closure — over the
    # input types AND the freshly-derived ones (domain/range outputs)
    if subclass is not None:
        sc = _closure_pairs(subclass).select(
            F.col("child").alias("obj"), F.col("parent").alias("new_cls")
        )
        types = triples.filter(F.col("pred") == type_pred).select("subj", "obj")
        for d_part in list(derived):
            types = types.unionByName(
                d_part.filter(F.col("pred") == type_pred).select("subj", "obj")
            )
        derived.append(
            types.join(F.broadcast(sc), "obj").select(
                "subj",
                F.lit(type_pred).alias("pred"),
                F.col("new_cls").alias("obj"),
            )
        )

    if not derived:
        return sess.createDataFrame([], "subj string, pred string, obj string")
    out = derived[0]
    for d_part in derived[1:]:
        out = out.unionByName(d_part)
    # a derived triple already present in the input is not "new"
    return out.distinct().join(triples, ["subj", "pred", "obj"], "left_anti")
