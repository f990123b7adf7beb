"""KG-side query + integrity operators over the emitted (subj, pred, obj)
triples — the read path of a KG-construction pipeline.

The reference consumes its own output through SPARQL (the DBpedia endpoint
queries in ``components/CandidateEntityRecognizer.php`` are all basic graph
patterns plus the one property path that ``operators/closure.py`` already
covers).  A web-scale build needs the same capability over the triples IT
emits: match a conjunctive pattern with shared variables, and gate the graph
on integrity invariants before publishing a snapshot.  Both are pure
DataFrame compositions — no UDFs, no driver loops.

Basic graph patterns (:func:`bgp_match`)
----------------------------------------
A pattern is a list of (s, p, o) terms; a term starting with ``?`` is a
variable, anything else a constant.  Each triple pattern compiles to a
filtered projection of the triples scan (constants become pushed-down
predicates — every pattern's scan reads only its own selection), and shared
variables become equi-join keys.  Join order is the classic most-constrained-
first heuristic (patterns with more constants join earlier), which is the
static stand-in for a cost-based reorder; at run time AQE re-plans the
actual join strategy from the observed sizes.  Bag semantics, like SPARQL
SELECT (and like the SQL twin).

Scale shape: one scan per triple pattern (same underlying files — the
scans are column-pruned to (subj,pred,obj) and predicate-pushed on the
constants), then |patterns|−1 equi-joins on variable bindings.  A star
pattern (shared subject variable) keys every join on the same column, so
after the first exchange the remaining joins reuse the partitioning; AQE
broadcasts any selective side.  Cartesian products between variable-
disjoint groups are refused rather than silently planned.

Integrity validation (:func:`functional_violations`,
:func:`dangling_objects`, :func:`disjoint_type_conflicts`,
:func:`kg_integrity_profile`)
----------------------------------------------------------------
The three invariants a KG snapshot gate needs, each one aggregation or
anti-join at a grain no larger than the input:

* functional predicates — a subj with >1 distinct obj on a declared-
  functional pred: one (subj, pred)-grain aggregate over the (tiny,
  broadcast) functional-pred list's selection.
* dangling object references — an entity-shaped obj that never occurs as a
  subj: obj-grain aggregate, then a left-anti join against the distinct
  subj set (both sides shuffle on the SAME entity key, and the subj side
  is pre-distinct so the anti-join probes the small set).
* disjoint classes — a subj typed with both halves of a declared-disjoint
  class pair: the rdf:type selection self-joined through the (tiny,
  broadcast) disjoint-pair list; the self-join keys on subj, so it rides
  one exchange of the type selection, never the full graph.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tabbyld_spark.functions.frames import local_frame

__all__ = [
    "bgp_match",
    "functional_violations",
    "dangling_objects",
    "disjoint_type_conflicts",
    "kg_integrity_profile",
]

_POS = ("subj", "pred", "obj")


def _is_var(term: str) -> bool:
    return term.startswith("?")


def _compile_pattern(
    triples: DataFrame, pattern: Sequence[str], idx: int
) -> DataFrame:
    """One (s, p, o) pattern → a bindings frame with one column per distinct
    variable.  Constants filter (pushed to the scan); a variable repeated
    within the pattern adds the implied equality filter.  A fully-ground
    pattern keeps one ``_exists_<idx>`` marker row per matching triple (bag
    semantics: its multiplicity multiplies into the result, exactly like
    SPARQL's)."""
    if len(pattern) != 3:
        raise ValueError(f"pattern must be (s, p, o), got {pattern!r}")
    df = triples
    seen: dict[str, str] = {}  # var name -> first position column
    cols = []
    for col, term in zip(_POS, pattern):
        if _is_var(term):
            name = term[1:]
            if not name:
                raise ValueError(f"empty variable name in {pattern!r}")
            if name in seen:  # (?x, p, ?x): same var twice ⇒ equality
                df = df.filter(F.col(col) == F.col(seen[name]))
            else:
                seen[name] = col
                cols.append(F.col(col).alias(name))
        else:
            df = df.filter(F.col(col) == F.lit(term))
    if not cols:  # fully-ground pattern: existence guard, 0 variables
        cols = [F.lit(1).alias(f"_exists_{idx}")]
    return df.select(*cols)


def bgp_match(triples: DataFrame, patterns: Iterable[Sequence[str]]) -> DataFrame:
    """Match a conjunctive basic graph pattern against ``triples`` →
    one row per variable binding (bag semantics), one column per variable.

    ``patterns`` is a list of (s, p, o) string triples; terms starting with
    ``?`` are variables.  Patterns joined most-constrained-first (more
    constants ⇒ earlier; ties keep list order, so plans are deterministic).
    Variable-carrying patterns that share no variable with what's been
    joined so far would be a cartesian product — refused with ``ValueError``
    (reorder or add a linking pattern; an unbounded cross product at web
    scale is always a query bug, never a plan choice).  Fully-GROUND
    patterns are the one sanctioned cross join: they carry no variables, so
    they act as existence guards whose multiplicity multiplies into the
    result (SPARQL bag semantics), and they join last.
    """
    pats = [tuple(p) for p in patterns]
    if not pats:
        raise ValueError("empty pattern list")
    # most-constrained-first: sort index = (−n_constants, original position)
    order = sorted(
        range(len(pats)),
        key=lambda i: (-sum(0 if _is_var(t) else 1 for t in pats[i]), i),
    )
    compiled = [(i, _compile_pattern(triples, pats[i], i)) for i in order]
    is_ground = lambda df: all(c.startswith("_exists_") for c in df.columns)
    remaining = [x for x in compiled if not is_ground(x[1])]
    guards = [x for x in compiled if is_ground(x[1])]
    if not remaining:  # all-ground query: pure existence product
        remaining, guards = guards[:1], guards[1:]
    _, out = remaining.pop(0)
    bound = set(out.columns)
    while remaining:
        # next pattern that shares ≥1 variable with the bound set
        pick = next(
            (k for k, (_, df) in enumerate(remaining) if bound & set(df.columns)),
            None,
        )
        if pick is None:
            raise ValueError(
                "pattern group disjoint from the rest (cartesian product): "
                f"{[pats[i] for i, _ in remaining]!r}"
            )
        _, nxt = remaining.pop(pick)
        keys = sorted(bound & set(nxt.columns))
        out = out.join(nxt, on=keys)
        bound |= set(nxt.columns)
    for _, g in guards:  # ground guards: bounded cross joins, applied last
        out = out.crossJoin(g)
    drop = [c for c in out.columns if c.startswith("_exists_")]
    if drop and len(out.columns) > len(drop):
        out = out.drop(*drop)
    return out


def functional_violations(
    triples: DataFrame, functional_preds: Sequence[str]
) -> DataFrame:
    """Subjects carrying >1 distinct object on a declared-functional
    predicate → (pred, subj, n_objects).  One map-side-combined aggregate
    over the functional-pred selection (the pred list is a literal IN — it
    folds into the scan filter, no join)."""
    return (
        triples.filter(F.col("pred").isin(list(functional_preds)))
        .groupBy("pred", "subj")
        .agg(F.countDistinct("obj").alias("n_objects"))
        .filter(F.col("n_objects") > 1)
    )


def dangling_objects(triples: DataFrame, entity_prefix: str) -> DataFrame:
    """Entity-shaped objects (``entity_prefix``-prefixed) that never occur
    as a subject → (obj, n_refs).  The obj side aggregates to entity grain
    BEFORE the anti-join, so the join carries one row per distinct dangling
    candidate, not one per referencing triple."""
    refs = (
        triples.filter(F.col("obj").startswith(entity_prefix))
        .groupBy("obj")
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )
    subjects = triples.select(F.col("subj").alias("obj")).distinct()
    return refs.join(subjects, "obj", "left_anti")


def disjoint_type_conflicts(
    triples: DataFrame,
    disjoint_pairs: Sequence[tuple[str, str]],
    type_pred: str = "rdf:type",
) -> DataFrame:
    """Subjects typed with both halves of a declared-disjoint class pair →
    (subj, class_a, class_b), one row per violated pair.  The type selection
    self-joins on subj (one exchange, reused by every pair via the broadcast
    pair list); pair order is normalized so (A,B) and (B,A) declarations
    emit identical rows."""
    sess = triples.sparkSession
    pairs = local_frame(
        sess,
        sorted({(min(a, b), max(a, b)) for a, b in disjoint_pairs}),
        "class_a string, class_b string",
    )
    types = triples.filter(F.col("pred") == type_pred).select(
        "subj", F.col("obj").alias("cls")
    ).distinct()
    a = types.select("subj", F.col("cls").alias("class_a"))
    b = types.select("subj", F.col("cls").alias("class_b"))
    return (
        a.join(b, "subj")
        .filter(F.col("class_a") < F.col("class_b"))
        .join(F.broadcast(pairs), ["class_a", "class_b"])
        .select("subj", "class_a", "class_b")
    )


def kg_integrity_profile(
    triples: DataFrame,
    functional_preds: Sequence[str] = (),
    entity_prefix: str | None = None,
    disjoint_pairs: Sequence[tuple[str, str]] = (),
    type_pred: str = "rdf:type",
) -> DataFrame:
    """The snapshot gate: every enabled check as one tagged union →
    (check, key, detail, n).  ``key`` is the violating subject/object,
    ``detail`` the predicate or class pair, ``n`` the violation magnitude
    (distinct objects / reference count / 1).  Empty result ⇒ publish."""
    parts: list[DataFrame] = []
    if functional_preds:
        parts.append(
            functional_violations(triples, functional_preds).select(
                F.lit("functional").alias("check"),
                F.col("subj").alias("key"),
                F.col("pred").alias("detail"),
                F.col("n_objects").cast("long").alias("n"),
            )
        )
    if entity_prefix is not None:
        parts.append(
            dangling_objects(triples, entity_prefix).select(
                F.lit("dangling").alias("check"),
                F.col("obj").alias("key"),
                F.lit(entity_prefix).alias("detail"),
                F.col("n_refs").cast("long").alias("n"),
            )
        )
    if disjoint_pairs:
        parts.append(
            disjoint_type_conflicts(triples, disjoint_pairs, type_pred).select(
                F.lit("disjoint").alias("check"),
                F.col("subj").alias("key"),
                F.concat_ws("|", "class_a", "class_b").alias("detail"),
                F.lit(1).cast("long").alias("n"),
            )
        )
    if not parts:
        raise ValueError("no checks enabled")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
