"""Blocked entity resolution (operators/entityres.py): profile derivation,
block capping, Jaccard scoring, canonical edge orientation, and the full
resolve→components composition.  The entry-contract suite cross-checks
q_entity_res against an independent SQL formulation; here we pin semantics
on hand-built graphs."""

import pytest
from pyspark.sql import functions as F

from tabbyld_spark.operators.entityres import (
    blocked_same_as,
    er_profiles,
    resolve_entities,
)


def _profiles(spark, rows):
    return spark.createDataFrame(
        rows, "entity string, block string, attrs array<string>"
    )


def test_jaccard_threshold_and_orientation(spark):
    prof = _profiles(
        spark,
        [
            ("b", "acme", ["x", "y", "z"]),
            ("a", "acme", ["x", "y", "w"]),   # J(a,b) = 2/4 = 0.5
            ("c", "acme", ["q", "r", "s"]),   # J(c,·) = 0
            ("d", "other", ["x", "y", "z"]),  # different block: never paired
        ],
    )
    out = blocked_same_as(prof, threshold=0.5).collect()
    assert [(r.src, r.dst, r.jaccard) for r in out] == [("a", "b", 0.5)]


def test_duplicate_attrs_count_once(spark):
    prof = _profiles(
        spark,
        [("a", "k", ["x", "x", "y"]), ("b", "k", ["x", "y", "y"])],
    )
    out = blocked_same_as(prof, threshold=0.9).collect()
    assert [(r.src, r.dst, r.jaccard) for r in out] == [("a", "b", 1.0)]


def test_oversized_blocks_dropped(spark):
    rows = [(f"e{i}", "huge", ["x", "y"]) for i in range(10)]
    rows += [("p", "ok", ["x", "y"]), ("q", "ok", ["x", "y"])]
    out = blocked_same_as(_profiles(spark, rows), threshold=0.5, max_block=5)
    assert [(r.src, r.dst) for r in out.collect()] == [("p", "q")]


def test_empty_attr_entities_never_pair(spark):
    prof = _profiles(spark, [("a", "k", []), ("b", "k", ["x"])])
    assert blocked_same_as(prof, threshold=0.0).count() == 0


@pytest.fixture(scope="module")
def er_triples(spark):
    rows = [
        # two "Acme Corp" records agreeing on 2 of 3 non-name attributes
        ("e1", "name", "Acme  Corp"),
        ("e1", "city", "rome"),
        ("e1", "sector", "tools"),
        ("e1", "ceo", "alice"),
        ("e2", "name", "acme corp"),
        ("e2", "city", "rome"),
        ("e2", "sector", "tools"),
        ("e2", "ceo", "bob"),
        # same name, disjoint description — below threshold
        ("e3", "name", "Acme Corp"),
        ("e3", "city", "lima"),
        ("e3", "sector", "food"),
        ("e3", "ceo", "eve"),
        # no name triple: unblockable, dropped
        ("e4", "city", "rome"),
    ]
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_er_profiles_normalize_names_and_drop_unnamed(er_triples):
    prof = er_profiles(er_triples, name_pred="name")
    rows = {r.entity: (r.block, len(r.attrs)) for r in prof.collect()}
    assert set(rows) == {"e1", "e2", "e3"}
    assert {b for b, _ in rows.values()} == {"acme corp"}
    assert all(n == 3 for _, n in rows.values())


def test_resolve_entities_merges_agreeing_duplicates(er_triples):
    labels = resolve_entities(er_triples, name_pred="name", threshold=0.5)
    comp = {r.node: r.component for r in labels.collect()}
    # e1/e2 share city+sector (J = 2/4 = 0.5) ⇒ merged; e3 stays out
    assert comp["e1"] == comp["e2"]
    assert "e3" not in comp  # no surviving edge touches e3


def test_deterministic_under_resharding(spark):
    rows = [
        (f"e{i}", f"blk{i % 4}", [f"a{i % 3}", f"b{i % 5}", "common"])
        for i in range(40)
    ]
    prof = _profiles(spark, rows)
    a = sorted(map(tuple, blocked_same_as(prof, 0.3).collect()))
    b = sorted(map(tuple, blocked_same_as(prof.repartition(7), 0.3).collect()))
    assert a == b and len(a) > 0


def test_fuzzy_blocking_pairs_typod_names(spark):
    from tabbyld_spark.operators.entityres import fuzzy_blocked_same_as

    prof = _profiles(
        spark,
        [
            ("a", "acme corporation", ["x", "y", "z"]),
            ("b", "acme corporaton", ["x", "y", "z"]),   # typo'd name, same attrs
            ("c", "zzq unrelated name", ["x", "y", "z"]),  # same attrs, far name
        ],
    )
    # the EXACT path cannot pair a/b (different block keys)...
    assert blocked_same_as(prof, threshold=0.5).count() == 0
    # ...the fuzzy path can, and still refuses the far-name candidate
    out = fuzzy_blocked_same_as(prof, threshold=0.5, name_jaccard_min=0.5)
    assert [(r.src, r.dst, r.jaccard) for r in out.collect()] == [("a", "b", 1.0)]


def test_fuzzy_superset_of_exact_on_identical_names(spark):
    from tabbyld_spark.operators.entityres import fuzzy_blocked_same_as

    prof = _profiles(
        spark,
        [
            ("a", "same name", ["x", "y", "w"]),
            ("b", "same name", ["x", "y", "z"]),  # J = 2/4 = 0.5
        ],
    )
    exact = {(r.src, r.dst) for r in blocked_same_as(prof, 0.5).collect()}
    fuzzy = {
        (r.src, r.dst)
        for r in fuzzy_blocked_same_as(prof, 0.5, name_jaccard_min=0.9).collect()
    }
    assert exact == {("a", "b")} and exact <= fuzzy


def test_fuzzy_bucket_cap_and_reshard_determinism(spark):
    from tabbyld_spark.operators.entityres import fuzzy_blocked_same_as

    rows = [(f"e{i}", f"name variant {i % 5}", ["x", "y"]) for i in range(30)]
    prof = _profiles(spark, rows)
    a = sorted(map(tuple, fuzzy_blocked_same_as(prof, 0.5).collect()))
    b = sorted(
        map(tuple, fuzzy_blocked_same_as(prof.repartition(7), 0.5).collect())
    )
    assert a == b and len(a) > 0
    # a tiny cap drops every bucket: no pairs, no error
    assert fuzzy_blocked_same_as(prof, 0.5, max_bucket=1).count() == 0


def test_prefix_filter_is_lossless_vs_inverted_index(spark):
    # the PPJoin prefix path (small-array regime) and the inverted-index
    # path (wide-array regime) must emit EXACTLY the same pair set at any
    # threshold — the prefix filter is a candidate pruner, never a recall
    # trade.  Randomized profiles, deterministic seed.
    import random

    rng = random.Random(42)
    vocab = [f"a{i:02d}" for i in range(30)]
    rows = [
        (
            f"e{i:03d}",
            f"b{rng.randrange(10)}",
            rng.sample(vocab, rng.randrange(1, 9)),
        )
        for i in range(300)
    ]
    profiles = spark.createDataFrame(
        rows, "entity string, block string, attrs array<string>"
    )
    # 0.1 ≈ full-prefix regime, 1.0 = single-rarest-attr prefixes (only
    # identical sets qualify — they share every attr incl. the rarest)
    for t in (0.1, 0.3, 0.5, 0.8, 1.0):
        fast = {
            (r.src, r.dst, round(r.jaccard, 12))
            for r in blocked_same_as(profiles, threshold=t).collect()
        }
        slow = {
            (r.src, r.dst, round(r.jaccard, 12))
            for r in blocked_same_as(
                profiles, threshold=t, verify_arrays_max=0
            ).collect()
        }
        assert fast == slow, f"threshold={t}: {fast ^ slow}"


def test_prefix_length_survives_float_noise(spark):
    # J(X, Y) = 14/25 = 0.56 exactly, but 0.56 * 25 = 14.000000000000002 in
    # floating point: a plain ceiling gives X a prefix one attr too short
    # (its 11 rarest attrs, none shared with Y) and the pair is lost
    prof = _profiles(
        spark,
        [
            ("X", "blk", [f"a{i:02d}" for i in range(1, 26)]),
            ("Y", "blk", [f"a{i:02d}" for i in range(12, 26)]),
        ],
    )
    for t in (0.55, 0.56):
        out = blocked_same_as(prof, threshold=t).collect()
        assert [(r.src, r.dst, r.jaccard) for r in out] == [("X", "Y", 0.56)], t
