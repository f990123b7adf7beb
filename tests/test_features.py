"""Operator-level tests for the feature stack (P7-P20) on micro-DataFrames,
pinning the reference's numeric quirks (SURVEY.md §5.1)."""

import pytest
from pyspark.sql import functions as F

from tabbyld_spark.fixtures.kg import DBO, DBR
from tabbyld_spark.operators import features as FT
from tabbyld_spark.operators.aggregate import aggregate_ranks, cea_top1
from tabbyld_spark.operators.candidates import (
    cap_candidates,
    split_literal_mentions,
    with_levenshtein,
)

OWL = "http://www.w3.org/2002/07/owl#Thing"


def _cands(spark, rows):
    return spark.createDataFrame(
        rows, "table_id string, col_role string, mention string, mention_norm string, ner string, entity string"
    )


@pytest.fixture(scope="module")
def micro_kg(spark):
    # Thing ← Location ← Settlement ← City
    sub = spark.createDataFrame(
        [
            (DBO + "City", DBO + "City", 0),
            (DBO + "City", DBO + "Settlement", 1),
            (DBO + "City", DBO + "Location", 2),
            (DBO + "City", OWL, 3),
            (DBO + "Settlement", DBO + "Settlement", 0),
            (DBO + "Settlement", DBO + "Location", 1),
            (DBO + "Settlement", OWL, 2),
            (DBO + "Location", DBO + "Location", 0),
            (DBO + "Location", OWL, 1),
            (DBO + "Person", DBO + "Person", 0),
            (DBO + "Person", OWL, 1),
        ],
        "child string, parent string, depth int",
    )
    types = spark.createDataFrame(
        [
            (DBR + "Paris", DBO + "City"),
            (DBR + "Bourg", DBO + "Settlement"),
            (DBR + "Europe", DBO + "Location"),
            (DBR + "Alice", DBO + "Person"),
        ],
        "entity string, class string",
    )
    return types, sub


def test_ner_class_rank_depth_quirk(spark, micro_kg):
    """(int)(1/ (count/2)): count 2 → 1; count 3 → 0; count 1 → 2 (quirk);
    no path → 0.  Reference: CanonicalTableAnnotator.php:438-453."""
    types, sub = micro_kg
    cands = _cands(
        spark,
        [
            ("t", "DATA", "paris", "Paris", "LOCATION", DBR + "Paris"),    # City ⊑* Loc: 3 mid-classes
            ("t", "DATA", "bourg", "Bourg", "LOCATION", DBR + "Bourg"),    # 2 → rank 1
            ("t", "DATA", "europe", "Europe", "LOCATION", DBR + "Europe"), # 1 → rank 2
            ("t", "DATA", "alice", "Alice", "LOCATION", DBR + "Alice"),    # no path → 0
            ("t", "DATA", "alice2", "Alice", "NONE", DBR + "Alice"),       # NER w/o class → 0
        ],
    )
    got = {
        r["mention"]: r["ner_rank"]
        for r in FT.ner_class_rank(cands, types, sub).collect()
    }
    assert got == {"paris": 0.0, "bourg": 1.0, "europe": 2.0, "alice": 0.0, "alice2": 0.0}


def test_heading_rank_min_lev(spark, micro_kg):
    types, _ = micro_kg
    cands = _cands(
        spark, [("t", "DATA", "paris", "Paris", "LOCATION", DBR + "Paris")]
    ).withColumn("heading_labels", F.array(F.lit("Cities"), F.lit("Zzz")))
    (row,) = FT.heading_rank(cands, types).collect()
    # levenshtein("City","Cities")=3, ("City","Zzz")=4 → 3
    assert row["heading_rank"] == 3.0
    # no heading labels → 100
    cands2 = _cands(
        spark, [("t", "DATA", "p", "P", "LOCATION", DBR + "Paris")]
    ).withColumn("heading_labels", F.array().cast("array<string>"))
    (row2,) = FT.heading_rank(cands2, types).collect()
    assert row2["heading_rank"] == 100.0


def test_context_similarity_multiplicity(spark):
    cands = _cands(
        spark, [("t", "DATA", "m", "M", "NONE", DBR + "E")]
    )
    entry_ctx = spark.createDataFrame(
        [("t", "m", "Paris", 2), ("t", "m", "Nope", 1)],
        "table_id string, mention string, ctx_value string, n long",
    )
    ent_ctx = spark.createDataFrame(
        [(DBR + "E", "Paris", 3), (DBR + "E", "Other", 1)],
        "entity string, ctx_local string, m long",
    )
    (row,) = FT.context_similarity(cands, entry_ctx, ent_ctx).collect()
    assert row["ctx_rank"] == 6.0  # 2 holder-pairs × 3 context rows


def test_semantic_similarity_votes_and_coefficient(spark):
    """Two mentions; a1 shares class X with b's candidates (dist 0), so a1's
    top class X gets 2 votes (two b-candidates) → coeff 10 → rank 0.2."""
    cands = _cands(
        spark,
        [
            ("t", "DATA", "a", "A", "NONE", DBR + "a1"),
            ("t", "DATA", "a", "A", "NONE", DBR + "a2"),
            ("t", "DATA", "b", "B", "NONE", DBR + "b1"),
            ("t", "DATA", "b", "B", "NONE", DBR + "b2"),
        ],
    )
    pcl = spark.createDataFrame(
        [
            (DBR + "a1", DBO + "X"),
            (DBR + "a2", DBO + "Qqqqq"),
            (DBR + "b1", DBO + "X"),
            (DBR + "b2", DBO + "X"),
        ],
        "entity string, pclass string",
    )
    got = {
        (r["mention"], r["entity"]): r["sem_rank"]
        for r in FT.semantic_similarity(cands, pcl).collect()
    }
    assert got[("a", DBR + "a1")] == pytest.approx(0.2)
    assert got[("a", DBR + "a2")] == pytest.approx(0.2)  # its only class, 2 votes
    assert got[("b", DBR + "b1")] == pytest.approx(0.2)


def test_semantic_similarity_tie_heavy_classes(spark):
    """P16 on tie-heavy class names: Aaa/Aab/Aac are each at distance 1 from
    one another, so minimum-distance ties are common.  Values pinned.  In
    the second case a1 holds two classes that tie against b1's Aac, and the
    lexicographic tiebreak decides the vote: Aaa (2 votes → 0.2), where a
    last-wins tiebreak would split the votes 1/1 (→ 0.1)."""
    rows = []
    for m in range(5):
        for c in range(3):
            rows.append(("t", "DATA", f"m{m}", f"M{m}", "NONE", DBR + f"e{m}_{c}"))
    cands = _cands(spark, rows)
    pcl = spark.createDataFrame(
        [(DBR + f"e{m}_{c}", DBO + ["Aaa", "Aab", "Aac", "Zz"][(m * 3 + c) % 4])
         for m in range(5) for c in range(3)],
        "entity string, pclass string",
    )
    got = {
        (r["mention"], r["entity"]): r["sem_rank"]
        for r in FT.semantic_similarity(cands, pcl).collect()
    }
    # one class per candidate: 4 other mentions x 3 candidates = 12 votes
    assert got == {
        (f"m{m}", DBR + f"e{m}_{c}"): 0.12 for m in range(5) for c in range(3)
    }

    cands = _cands(
        spark,
        [
            ("t", "DATA", "a", "A", "NONE", DBR + "a1"),
            ("t", "DATA", "b", "B", "NONE", DBR + "b1"),
            ("t", "DATA", "b", "B", "NONE", DBR + "b2"),
        ],
    )
    pcl = spark.createDataFrame(
        [
            (DBR + "a1", DBO + "Aab"),
            (DBR + "a1", DBO + "Aaa"),
            (DBR + "b1", DBO + "Aac"),
            (DBR + "b2", DBO + "Aaa"),
        ],
        "entity string, pclass string",
    )
    got = {
        (r["mention"], r["entity"]): r["sem_rank"]
        for r in FT.semantic_similarity(cands, pcl).collect()
    }
    assert got == {
        ("a", DBR + "a1"): 0.2,
        ("b", DBR + "b1"): 0.1,
        ("b", DBR + "b2"): 0.1,
    }


def test_relationship_rank_cross_mention_triples(spark):
    """P17 (CanonicalTableAnnotator.php:245-372): count KG triples from a
    candidate to a DIFFERENT mention's candidate in the same table; same-
    mention and cross-table links must not count."""
    cands = _cands(
        spark,
        [
            ("t", "DATA", "a", "A", "NONE", DBR + "a1"),
            ("t", "DATA", "b", "B", "NONE", DBR + "b1"),
            ("t", "DATA", "b", "B", "NONE", DBR + "b2"),
            ("u", "DATA", "c", "C", "NONE", DBR + "c1"),
        ],
    )
    kg_triples = spark.createDataFrame(
        [
            (DBR + "a1", DBO + "p", DBR + "b1"),   # counts for a1 (→ b's cand)
            (DBR + "a1", DBO + "q", DBR + "b2"),   # counts for a1
            (DBR + "b1", DBO + "p", DBR + "a1"),   # counts for b1
            (DBR + "a1", DBO + "p", DBR + "a1"),   # self/same-mention: no
            (DBR + "a1", DBO + "p", DBR + "c1"),   # cross-table: no
            (DBR + "x", DBO + "p", DBR + "y"),     # unrelated: no
        ],
        "subj string, pred string, obj string",
    )
    got = {
        (r["mention"], r["entity"]): r["rel_rank"]
        for r in FT.relationship_rank(cands, kg_triples).collect()
    }
    assert got[("a", DBR + "a1")] == 2.0
    assert got[("b", DBR + "b1")] == 1.0
    assert got[("b", DBR + "b2")] == 0.0
    assert got[("c", DBR + "c1")] == 0.0


def test_literal_shortcut_and_cap(spark):
    m = spark.createDataFrame(
        [
            ("t", "DATA", "42", "42", "NUMBER"),
            ("t", "DATA", "Paris", "Paris", "LOCATION"),
        ],
        "table_id string, col_role string, mention string, mention_norm string, ner string",
    )
    lit, rest = split_literal_mentions(m)
    (lrow,) = lit.collect()
    assert lrow["entity"] == DBR + "Number" and lrow["agg_rank"] == 1.0
    assert rest.count() == 1

    cands = _cands(
        spark,
        [("t", "DATA", "m", "M", "NONE", DBR + f"E{i:03d}") for i in range(150)],
    )
    capped = cap_candidates(with_levenshtein(cands), cap=100)
    assert capped.count() == 100


def test_cea_deterministic_tiebreak(spark):
    scored = _cands(
        spark,
        [
            ("t", "DATA", "m", "M", "NONE", DBR + "B"),
            ("t", "DATA", "m", "M", "NONE", DBR + "A"),
        ],
    ).withColumn("agg_rank", F.lit(2.5))
    (top,) = cea_top1(scored).collect()
    assert top["entity"] == DBR + "A"  # equal rank → entity asc


def test_aggregation_formulas(spark):
    base = _cands(spark, [("t", "DATA", "m", "M", "NONE", DBR + "E")])
    row = (
        base.withColumn("lev", F.lit(10))
        .withColumn("ner_rank", F.lit(1.0))
        .withColumn("heading_rank", F.lit(20.0))
        .withColumn("ctx_rank", F.lit(3.0))
        .withColumn("sem_rank", F.lit(0.5))
    )
    (data_row,) = aggregate_ranks(row).collect()
    # (1-0.1) + 1 + (1-0.2) + 3 + 0.5 = 6.2
    assert data_row["agg_rank"] == pytest.approx(6.2)
    (head_row,) = aggregate_ranks(
        row.withColumn("col_role", F.lit("ROW"))
    ).collect()
    # (1-0.1) + 1 + 1 = 2.9
    assert head_row["agg_rank"] == pytest.approx(2.9)
