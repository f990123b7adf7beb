"""Property test: ``rdfs_entailment`` (operators/entailment.py) against a
pure-Python reference of its stratified ρdf rules, over random small graphs
and schemas.

The reference closes both hierarchies by naive fixpoint iteration and
applies the strata in the documented order: property inheritance and
domain/range over the non-type triples (plus, for domain/range, the
inherited ones), then class inheritance over the input types and every
minted type.  Cases that pin today's semantics: a subPropertyOf edge into
or out of ``rdf:type``, cycles in both hierarchies, the ``entity_prefixes``
range guard, every subset of the four schema frames being ``None``, empty
frames, and the schema-too-large-for-the-driver fallback."""

from __future__ import annotations

import itertools

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import tabbyld_spark.operators.entailment as entailment
from tabbyld_spark.operators.entailment import rdfs_entailment

TYPE = "rdf:type"
NAMES = ["x:a", "x:b", "lit", "A", "B"]
PREDS = ["p", "q", "r", TYPE]
CLASSES = ["A", "B", "C", "x:a"]
FRAMES = ("subclass", "subproperty", "domain", "range_")


def _closure(edges):
    pairs = set(edges)
    while True:
        step = {(a, d) for a, b in pairs for c, d in pairs if b == c}
        if step <= pairs:
            return pairs
        pairs |= step


def reference(triples, subclass, subproperty, domain, range_, prefixes):
    """Derived triples, input excluded, by the stratified rules."""
    tri = set(triples)
    sp = _closure(subproperty or [])
    sc = _closure(subclass or [])
    base = {t for t in tri if t[1] != TYPE}
    inherited = {(s, q, o) for s, p, o in base for c, q in sp if c == p}
    dr = base | inherited
    typed = {(s, TYPE, c) for s, p, o in dr for q, c in domain or [] if q == p}
    typed |= {
        (o, TYPE, c)
        for s, p, o in dr
        for q, c in range_ or []
        if q == p and (not prefixes or o.startswith(prefixes))
    }
    types = {t for t in tri | inherited | typed if t[1] == TYPE}
    climbed = {(s, TYPE, d) for s, _, c in types for k, d in sc if k == c}
    return (inherited | typed | climbed) - tri


def _run(spark, triples, schema, prefixes):
    def frame(rows, ddl):
        return None if rows is None else spark.createDataFrame(rows, ddl)

    pairs, decl = "child string, parent string", "pred string, cls string"
    out = rdfs_entailment(
        frame(triples, "subj string, pred string, obj string"),
        subclass=frame(schema["subclass"], pairs),
        subproperty=frame(schema["subproperty"], pairs),
        domain=frame(schema["domain"], decl),
        range_=frame(schema["range_"], decl),
        entity_prefixes=prefixes,
    )
    rows = [tuple(r) for r in out.collect()]
    assert len(rows) == len(set(rows)), "derived triples are distinct"
    return set(rows)


def _check(spark, triples, schema, prefixes):
    want = reference(triples, prefixes=prefixes, **schema)
    assert _run(spark, triples, schema, prefixes) == want


_triple = st.tuples(st.sampled_from(NAMES), st.sampled_from(PREDS), st.sampled_from(NAMES))


def _edges(pool, n):
    return st.none() | st.lists(
        st.tuples(st.sampled_from(pool), st.sampled_from(pool)), max_size=n
    )


def _decls(n):
    return st.none() | st.lists(
        st.tuples(st.sampled_from(PREDS), st.sampled_from(CLASSES)), max_size=n
    )


@given(
    triples=st.lists(_triple, min_size=1, max_size=8),
    subclass=_edges(CLASSES, 4),
    subproperty=_edges(PREDS, 4),
    domain=_decls(3),
    range_=_decls(3),
    prefixes=st.sampled_from([(), ("x:",)]),
)
@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_entailment_matches_reference(spark, triples, subclass, subproperty,
                                      domain, range_, prefixes):
    schema = dict(subclass=subclass, subproperty=subproperty,
                  domain=domain, range_=range_)
    _check(spark, triples, schema, prefixes)


# one graph that exercises every rule and every corner at once
RICH_TRIPLES = [
    ("x:a", "p", "x:b"), ("x:a", "p", "lit"), ("x:b", "r", "A"),
    ("lit", TYPE, "B"), ("x:b", TYPE, "C"), ("x:a", "q", "x:b"),
]
RICH_SCHEMA = {
    "subclass": [("A", "B"), ("B", "C"), ("C", "A"), ("x:a", "A")],  # cycle
    "subproperty": [("p", "q"), ("q", "p"), ("r", TYPE), (TYPE, "q")],  # cycle, into/out of type
    "domain": [("q", "A"), (TYPE, "C")],
    "range_": [("p", "B"), ("q", "x:a")],
}


@pytest.mark.parametrize(
    "present",
    [c for k in range(len(FRAMES) + 1) for c in itertools.combinations(FRAMES, k)],
    ids=lambda c: "+".join(c) or "none",
)
def test_every_subset_of_schema_frames(spark, present):
    schema = {f: (RICH_SCHEMA[f] if f in present else None) for f in FRAMES}
    _check(spark, RICH_TRIPLES, schema, ("x:",))


def test_empty_schema_frames_derive_nothing(spark):
    schema = dict.fromkeys(FRAMES, [])
    assert _run(spark, RICH_TRIPLES, schema, ()) == set()


def test_driver_fallback_matches_reference(spark, monkeypatch):
    # a schema over the driver bound takes the distributed closure and the
    # Spark-join composition; the corpus-side plan and output are the same
    monkeypatch.setattr(entailment, "DRIVER_MAX", 0)
    _check(spark, RICH_TRIPLES, RICH_SCHEMA, ("x:",))
    _check(spark, RICH_TRIPLES, dict(RICH_SCHEMA, subproperty=None), ())
