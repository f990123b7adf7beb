"""entry_context (P12) against the rule itself: a brute-force pure-Python
version of the reference's OR-join (getEntryContext,
CanonicalTableAnnotator.php:632-681) — each holder row × each row of the
same table sharing a non-empty row_heading or column_heading, counted once
per pair.  Covers one oversized heading group, mixed group sizes, the hashed
output shape and empty headings."""

from collections import Counter

from tabbyld_spark.functions.keys import skey
from tabbyld_spark.operators.mentions import entry_context


def _rows(out):
    return sorted(
        (r["table_id"], r["mention"], r["ctx_value"], r["n"]) for r in out.collect()
    )


def _canonical(spark, data):
    return spark.createDataFrame(
        data, "table_id string, row_idx long, col_idx long, data string, "
        "row_heading string, column_heading string"
    )


def _brute(data):
    """P12 by definition, O(rows²) per table."""
    n = Counter()
    for t, _, _, m, rh, ch in data:
        for t2, _, _, v, rh2, ch2 in data:
            if t2 == t and ((rh != "" and rh == rh2) or (ch != "" and ch == ch2)):
                n[(t, m, v)] += 1
    return sorted((t, m, v, c) for (t, m, v), c in n.items())


def test_pathological_single_heading_group(spark):
    # one table, EVERY row shares the same row_heading: the heading group
    # holds 200 distinct DATA values
    data = [
        ("t1", i, 0, f"v{i:03d}", "shared", f"col{i % 3}") for i in range(200)
    ]
    # plus duplicated values to exercise multiplicities
    data += [("t1", 200 + i, 0, f"v{i:03d}", "shared", "col0") for i in range(5)]
    got = _rows(entry_context(_canonical(spark, data), hashed=False))
    assert got == _brute(data)
    # v000 is duplicated (rows 0 and 200) and v005 is not: sharing 'shared'
    # with all 205 rows puts v000 in v005's context with multiplicity 2
    n_by_pair = {(m, c): n for (_, m, c, n) in got}
    assert n_by_pair[("v005", "v000")] == 2


def test_mixed_small_and_big_groups(spark):
    # table t2: row_heading groups of size 2 AND one column_heading group of
    # size 40 — the inclusion-exclusion overlap term must cancel exactly the
    # pairs that match on both headings
    data = [("t2", i, 0, f"d{i}", f"rh{i // 2}", "one_col") for i in range(40)]
    # a second table reusing the same heading strings must not join in
    data += [("t3", i, 0, f"d{i}", f"rh{i // 2}", "one_col") for i in range(6)]
    got = _rows(entry_context(_canonical(spark, data), hashed=False))
    assert got == _brute(data)


def test_hashed_shape_matches_rule(spark):
    data = [("t3", i, 0, f"x{i % 7}", "h", "c") for i in range(30)]
    out = entry_context(_canonical(spark, data), hashed=True)
    assert out.columns == ["ctx_key", "vhash", "n"]
    want = spark.createDataFrame(
        _brute(data), "table_id string, mention string, ctx_value string, n long"
    ).select(skey("table_id", "mention"), skey("ctx_value"), "n")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))


def test_empty_headings_excluded(spark):
    # rows with empty heading cells must not join through that heading
    data = [
        ("t4", 0, 0, "a", "", "c1"),
        ("t4", 1, 0, "b", "", "c1"),
        ("t4", 2, 0, "c", "rh", ""),
        ("t4", 3, 0, "d", "rh", ""),
    ]
    got = _rows(entry_context(_canonical(spark, data), hashed=False))
    assert got == _brute(data)
    pairs = {(m, c) for (_, m, c, _) in got}
    assert ("a", "b") in pairs and ("c", "d") in pairs
    assert ("a", "c") not in pairs and ("b", "d") not in pairs
