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
The first two strata read only the schema on their rule side, so they are
composed on the driver into ONE pred-keyed rule table ``(pred, kind, val)``:
``inherit`` rows are SP*, and a ``domain``/``range`` row for p holds the
declarations of p and of every q ∈ SP*(p).  The class stratum is the
class-keyed SC* table.  The corpus side is then one compiled pass over one
scan of the input: the non-type triples broadcast-join the rule table on
``pred``, the input types plus the minted types broadcast-join SC* on the
class (both as left joins that pass every row on, so the stream carries
input and derived rows together), and one ``groupBy(subj, pred, obj)``
keeps the triples no input row states — two broadcast lookups and one
shuffle, whatever the schema holds, and no Python worker: both tables are
:func:`functions.frames.local_frame` frames.

The schema reaches the driver through one bounded collect; both closures
are built there (:func:`_closure_pairs`' size gate).  A schema or closure
too large for the driver falls back to :func:`closure.subclass_closure`'s
O(log diameter) doubling and Spark joins for the composition; both
branches feed the same two lookups, so the corpus-side plan is the same.

Deterministic (pure joins + one aggregate), SQL-twinnable (driver oracle
``q_rdfs_entail`` re-derives every rule with a recursive CTE).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tabbyld_spark.functions.frames import local_frame
from tabbyld_spark.operators.closure import subclass_closure

__all__ = ["rdfs_entailment"]

RDF_TYPE = "rdf:type"
# schema rows the driver takes (all four frames together), and closure
# pairs one hierarchy may grow to there, before the distributed fallback
DRIVER_MAX = 100_000
DRIVER_MAX_PAIRS = 2_000_000
TRIPLES_DDL = "subj string, pred string, obj string"
PAIRS_DDL = "child string, parent string"
RULES_DDL = "pred string, kind string, val string"


def _driver_closure(edges, max_pairs: int) -> set[tuple[str, str]] | None:
    """(child, parent) edge rows → strict-ancestor pairs (depth ≥ 1), or
    None once the pair set outgrows ``max_pairs``.

    The edge gate alone cannot bound the MEMORY of the driver path: a deep
    hierarchy's closure is O(V × avg-ancestors) pairs — 100k edges can
    close to 10⁸⁺ pairs (a driver OOM) while passing the edge gate."""
    adj: dict[str, set[str]] = {}
    for child, parent in edges:
        adj.setdefault(child, set()).add(parent)
    pairs: set[tuple[str, str]] = set()
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
        if len(pairs) > int(max_pairs):
            return None
    return pairs


def _closure_pairs(
    edges: DataFrame,
    driver_max: int = DRIVER_MAX,
    driver_max_pairs: int = DRIVER_MAX_PAIRS,
) -> DataFrame:
    """(child, parent) edges → strict-ancestor pairs (depth ≥ 1).

    Size-gated: when the edge set fits ``driver_max`` rows (one bounded
    collect decides the gate AND fetches the edges) and its closure fits
    ``driver_max_pairs``, the closure is built on the driver and comes back
    as a local frame; otherwise :func:`closure.subclass_closure`'s
    distributed doubling computes the same pairs."""
    head = edges.limit(int(driver_max) + 1).collect()
    if len(head) <= int(driver_max):
        pairs = _driver_closure(((r["child"], r["parent"]) for r in head), driver_max_pairs)
        if pairs is not None:
            return local_frame(edges.sparkSession, sorted(pairs), PAIRS_DDL)
    return (
        subclass_closure(edges)
        .filter(F.col("depth") >= 1)
        .select("child", "parent")
        .distinct()
    )


def _compose(sp: set, decls: list[tuple[str, str, str]]) -> list[tuple[str, str, str]]:
    """SP* pairs + (kind, pred, cls) declarations → the rule table rows: the
    driver twin of :func:`_compose_frames`."""
    up: dict[str, set[str]] = {}
    for p, q in sp:
        up.setdefault(p, set()).add(q)
    declared: dict[str, list[tuple[str, str]]] = {}
    for kind, q, cls in decls:
        declared.setdefault(q, []).append((kind, cls))
    rules = {(p, "inherit", q) for p, q in sp}
    for p in set(up) | set(declared):
        for q in up.get(p, set()) | {p}:
            rules.update((p, kind, cls) for kind, cls in declared.get(q, ()))
    return sorted(rules)


def _compose_frames(sp: DataFrame, decls: DataFrame) -> DataFrame:
    """:func:`_compose` as Spark joins, for a schema too large for the
    driver: ``sp`` (child, parent) SP* pairs, ``decls`` (kind, q, cls)."""
    up = sp.select(F.col("child").alias("pred"), F.col("parent").alias("q")).unionByName(
        decls.select(F.col("q").alias("pred"), "q")
    ).distinct()
    return sp.select(
        F.col("child").alias("pred"), F.lit("inherit").alias("kind"),
        F.col("parent").alias("val"),
    ).unionByName(
        up.join(decls, "q").select("pred", "kind", F.col("cls").alias("val"))
    )


def _rule_tables(
    subclass: DataFrame | None,
    subproperty: DataFrame | None,
    domain: DataFrame | None,
    range_: DataFrame | None,
) -> tuple[DataFrame | None, DataFrame | None]:
    """The four schema frames → (rule table, SC* table); None where a table
    is known to be empty.  One bounded collect fetches all four."""
    given = [
        df.select(F.lit(tag).alias("tag"), F.col(a).alias("a"), F.col(b).alias("b"))
        for tag, df, a, b in (
            ("subclass", subclass, "child", "parent"),
            ("subproperty", subproperty, "child", "parent"),
            ("domain", domain, "pred", "cls"),
            ("range", range_, "pred", "cls"),
        )
        if df is not None
    ]
    if not given:
        return None, None
    schema = reduce(DataFrame.unionByName, given)
    # one job: the union is read as a single partition so the limit never
    # re-scans for a second batch, and at most DRIVER_MAX + 1 rows arrive
    head = schema.coalesce(1).limit(DRIVER_MAX + 1).collect()
    if len(head) <= DRIVER_MAX:
        def closed(tag: str) -> set[tuple[str, str]] | None:
            return _driver_closure([(a, b) for t, a, b in head if t == tag], DRIVER_MAX_PAIRS)

        sp, sc = closed("subproperty"), closed("subclass")
        if sp is not None and sc is not None:
            rules = _compose(sp, [r for r in head if r[0] in ("domain", "range")])
            sess = schema.sparkSession
            return (
                local_frame(sess, rules, RULES_DDL) if rules else None,
                local_frame(sess, sorted(sc), PAIRS_DDL) if sc else None,
            )

    def edges(tag: str) -> DataFrame:
        return schema.filter(F.col("tag") == tag).select(
            F.col("a").alias("child"), F.col("b").alias("parent")
        )

    decls = schema.filter(F.col("tag").isin("domain", "range")).select(
        F.col("tag").alias("kind"), F.col("a").alias("q"), F.col("b").alias("cls")
    )
    return (
        _compose_frames(_closure_pairs(edges("subproperty"), DRIVER_MAX), decls),
        _closure_pairs(edges("subclass"), DRIVER_MAX),
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
    schema-sized and compiled into two broadcast lookups.
    ``entity_prefixes`` guards rdfs3 — literal-valued objects must not be
    typed; when given, only objects with one of the prefixes receive range
    types (the standard literal-guard every materializer applies)."""
    rules, sc = _rule_tables(subclass, subproperty, domain, range_)
    if rules is None and sc is None:
        return local_frame(triples.sparkSession, [], TRIPLES_DDL)

    # one scan of the input: every stage below emits its input rows (tag 1)
    # plus what its lookup derives (tag 0), so the input needs no cut
    subj, pred, obj = F.col("subj"), F.col("pred"), F.col("obj")
    type_lit = F.lit(type_pred)

    def row(s, p, o, tag):
        return F.struct(s.alias("subj"), p.alias("pred"), o.alias("obj"), tag.alias("_in"))

    def emit(df: DataFrame, fires, s, p, o) -> DataFrame:
        pair = F.array(
            row(subj, pred, obj, F.col("_in")), F.when(fires, row(s, p, o, F.lit(0)))
        )
        return (
            df.select(F.explode(pair).alias("r"))
            .filter(F.col("r").isNotNull())
            .select("r.*")
        )

    stream = triples.select(subj, pred, obj, F.lit(1).alias("_in"))
    if rules is not None:
        # rdfs5/7 + rdfs2/3: non-type triples look their predicate up
        kind, val = F.col("kind"), F.col("val")
        fires = kind.isNotNull()
        if entity_prefixes:
            entity = reduce(lambda a, b: a | b, [obj.startswith(p) for p in entity_prefixes])
            fires = fires & ((kind != "range") | entity)
        hits = stream.join(
            F.broadcast(rules.filter(F.col("pred") != type_pred)), "pred", "left"
        )
        stream = emit(
            hits, fires,
            F.when(kind == "range", obj).otherwise(subj),
            F.when(kind == "inherit", val).otherwise(type_lit),
            F.when(kind == "inherit", obj).otherwise(val),
        )
    if sc is not None:
        # rdfs9/11: input and minted type triples look their class up
        climbs = (pred == type_pred) & (obj == F.col("child"))
        hits = stream.join(F.broadcast(sc), climbs, "left")
        stream = emit(hits, F.col("child").isNotNull(), subj, type_lit, F.col("parent"))

    # one aggregate over derived ∪ input: a group is new when no input row
    # states it.  A null key never matched in the anti-join this replaces,
    # so such a group is new whenever it holds a derived row
    keys = ["subj", "pred", "obj"]
    has_null = reduce(lambda a, b: a | b, [F.col(k).isNull() for k in keys])
    return (
        stream.groupBy(*keys)
        .agg(F.min("_in").alias("_lo"), F.max("_in").alias("_hi"))
        .filter((F.col("_lo") == 0) & ((F.col("_hi") == 0) | has_null))
        .select(*keys)
    )
