"""In-repo guard for the STI oracle fixture: the driver re-runs every
queries()/oracle_sql() pair at its own cadence; this keeps a fast subset in
pytest so a fixture or SQL regression is caught before a driver round."""

import duckdb
import pytest

from tabbyld_spark.fixtures.sti_fixture import ensure_sti_fixture
from tabbyld_spark.fixtures.sti_sql import sti_oracle_queries


@pytest.fixture(scope="module")
def fx():
    return ensure_sti_fixture()


def test_fixture_materializes_and_is_idempotent(fx):
    import os

    assert os.path.exists(os.path.join(fx, "_SUCCESS"))
    assert ensure_sti_fixture() == fx
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{fx}/candidates.parquet')"
    ).fetchone()[0]
    assert n > 300


@pytest.mark.parametrize(
    "name", ["q_ner_class_rank", "q_semantic_similarity", "q_sti_cea", "q_owl"]
)
def test_spark_matches_duckdb(spark, fx, name):
    import __spark_entry__ as E

    sp = E.queries()[name](spark, "/root/testdata/sf0.001").toPandas()
    od = duckdb.connect().execute(sti_oracle_queries(fx)[name]).df()
    cols = sorted(sp.columns)
    assert cols == sorted(od.columns)
    sp2 = sp[cols].sort_values(cols).reset_index(drop=True)
    od2 = od[cols].sort_values(cols).reset_index(drop=True)
    assert len(sp2) == len(od2)
    for c in cols:
        assert (sp2[c].astype(str).values == od2[c].astype(str).values).all(), c


@pytest.mark.parametrize(
    "name", ["q_sti_cea", "q_annotate_rows", "q_sti_triples", "q_owl"]
)
def test_full_chain_oracle_fits_memory_limit(fx, name):
    # These oracles' memory need follows how often DuckDB inlines ``cea`` and
    # ``candidates``, not the 25-page input: inlined, they ran out at 12.5 GiB.
    # A fixed 1 GB limit (about twice the need with both CTEs materialised)
    # catches that on any host.
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    assert con.execute(sti_oracle_queries(fx)[name]).fetchall()
