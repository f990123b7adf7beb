"""Materialized STI oracle fixture — parquet inputs shared by the Spark
feature-stack queries and their DuckDB oracle twins.

The driver's correctness harness runs each ``queries()`` entry in Spark AND
its ``oracle_sql()`` string in DuckDB over the same tables.  The relational
surface uses the driver's testdata; the STI feature stack (P10-P19) instead
needs a canonical-table + micro-KG input, so this module writes one to
``<repo>/.sti_fixture/v<N>/``:

    kg_labels / kg_types / kg_subclass / kg_triples   (fixtures.kg, seed 42)
    canonical                                          (fixtures.pages, 25 pages)
    candidates                                         (built BY DUCKDB)

``candidates.parquet`` is deliberately produced by DuckDB running
:func:`sql_mentions` + :func:`sql_candidates` — an independent SQL
re-derivation of the reference's mention/candidate semantics
(/root/reference/components/CanonicalTableAnnotator.php:876-906,1019-1098) —
so the per-feature checks (Spark operator vs DuckDB formula over the same
candidate rows) are not circular, and the full-chain CEA check (Spark from
``canonical`` vs SQL from ``canonical``) cross-validates the mention and
candidate stages themselves.

Everything is a pure function of the seed: rebuilt only when VERSION bumps.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from tabbyld_spark.functions.normalize import entity_localname_sql, normalize_entry_sql

# bump when fixture generation or the mention/candidate SQL changes
VERSION = 2
N_PAGES = 25
SEED = 42

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
LITERAL_LABELS = ("NUMBER", "MONEY", "PERCENT", "DATE", "TIME")

TABLES = ("kg_labels", "kg_types", "kg_subclass", "kg_triples", "canonical", "candidates")


def fixture_dir() -> str:
    # TABBYLD_FIXTURE_DIR overrides; otherwise cache next to the repo.  When
    # the package is zip-imported (spark-submit --py-files), _REPO resolves
    # INSIDE the .zip and is not a real directory — fall back to a per-user
    # tmp cache so the production invocation mode still works.
    base = os.environ.get("TABBYLD_FIXTURE_DIR")
    if base is None:
        base = (
            os.path.join(_REPO, ".sti_fixture")
            if os.path.isdir(_REPO)
            else os.path.join(
                tempfile.gettempdir(), f"tabbyld_sti_fixture_{os.getuid()}"
            )
        )
    return os.path.join(base, f"v{VERSION}")


def sql_mentions(canonical: str) -> str:
    """CTE body for the mention set (P4/P5/P6) over ``canonical``:
    (table_id, col_role, mention, mention_norm, ner, heading_labels).

    DATA cells whole, distinct per (table, value), last row wins for NER and
    heading labels; heading cells split on " | " with the packed NER's LAST
    part (reference foreach-overwrite quirk)."""
    norm_data = normalize_entry_sql("data")
    norm_part = normalize_entry_sql("mention")
    norm_hl = normalize_entry_sql("x")

    def last_part(col: str) -> str:
        return f"list_extract(string_split({col}, ' | '), len(string_split({col}, ' | ')))"

    return f"""
        data_rn AS (
            SELECT table_id, data, data_ner, row_heading, column_heading,
                   row_number() OVER (PARTITION BY table_id, data
                       ORDER BY row_idx DESC, col_idx DESC) AS _rn
            FROM {canonical}
        ),
        data_m AS (
            SELECT table_id, 'DATA' AS col_role, data AS mention,
                   {norm_data} AS mention_norm, data_ner AS ner,
                   list_filter(list_concat(
                       list_transform(string_split(row_heading, ' | '), x -> {norm_hl}),
                       list_transform(string_split(column_heading, ' | '), x -> {norm_hl})
                   ), x -> x <> '') AS heading_labels
            FROM data_rn
            WHERE _rn = 1 AND data <> '' AND {norm_data} <> ''
        ),
        head_parts AS (
            SELECT table_id, row_idx, col_idx, 'ROW' AS col_role, p.part AS mention,
                   {last_part('row_heading_ner')} AS ner
            FROM {canonical}, LATERAL unnest(string_split(row_heading, ' | ')) AS p(part)
            UNION ALL
            SELECT table_id, row_idx, col_idx, 'COL' AS col_role, p.part AS mention,
                   {last_part('column_heading_ner')} AS ner
            FROM {canonical}, LATERAL unnest(string_split(column_heading, ' | ')) AS p(part)
        ),
        head_rn AS (
            SELECT table_id, col_role, mention, {norm_part} AS mention_norm, ner,
                   row_number() OVER (PARTITION BY table_id, col_role, mention
                       ORDER BY row_idx DESC, col_idx DESC) AS _rn
            FROM head_parts
            WHERE {norm_part} <> ''
        ),
        mentions AS (
            SELECT table_id, col_role, mention, mention_norm, ner, heading_labels
            FROM data_m
            UNION ALL
            SELECT table_id, col_role, mention, mention_norm, ner,
                   []::VARCHAR[] AS heading_labels
            FROM head_rn WHERE _rn = 1
        )
    """


def sql_candidates(kg_labels: str, cap: int = 100) -> str:
    """CTE body for exact candidates + Levenshtein + per-mention cap (P7-P9),
    continuing from the ``mentions`` CTE.

    ``candidates`` is MATERIALIZED: DuckDB 1.0 inlines a non-materialised CTE
    at every reference, and each ``cea`` of the full-chain oracles references
    ``candidates`` about ten times through the P10-P19 feature stack."""
    lits = ", ".join(f"'{x}'" for x in LITERAL_LABELS)
    local = entity_localname_sql("l.entity")
    return f"""
        cand0 AS (
            SELECT m.table_id, m.col_role, m.mention, m.mention_norm, m.ner,
                   m.heading_labels, l.entity,
                   CAST(levenshtein(m.mention_norm, {local}) AS BIGINT) AS lev
            FROM mentions m
            JOIN {kg_labels} l ON m.mention_norm = l.surface_form
            WHERE m.ner NOT IN ({lits})
        ),
        candidates AS MATERIALIZED (
            SELECT table_id, col_role, mention, mention_norm, ner,
                   heading_labels, entity, lev
            FROM (
                SELECT *, row_number() OVER (PARTITION BY table_id, col_role, mention
                           ORDER BY lev ASC, entity ASC) AS _rk
                FROM cand0
            ) WHERE _rk <= {cap}
        )
    """


def ensure_sti_fixture() -> str:
    """Materialize the fixture dir if absent; returns the path.  Safe to call
    from both ``queries()`` callables and ``oracle_sql()`` (whichever the
    driver evaluates first does the build)."""
    out = fixture_dir()
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out

    import duckdb

    from tabbyld_spark.fixtures.kg import build_kg
    from tabbyld_spark.fixtures.pages import gen_pages_pd

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)

    kg = build_kg(seed=SEED)
    fx = gen_pages_pd(kg, n_pages=N_PAGES, seed=SEED)
    kg.labels.to_parquet(os.path.join(tmp, "kg_labels.parquet"), index=False)
    kg.types.to_parquet(os.path.join(tmp, "kg_types.parquet"), index=False)
    kg.subclass.to_parquet(os.path.join(tmp, "kg_subclass.parquet"), index=False)
    kg.triples.to_parquet(os.path.join(tmp, "kg_triples.parquet"), index=False)
    fx.canonical.to_parquet(os.path.join(tmp, "canonical.parquet"), index=False)

    con = duckdb.connect()
    sql = f"""
        COPY (
            WITH
            {sql_mentions(f"read_parquet('{tmp}/canonical.parquet')")},
            {sql_candidates(f"read_parquet('{tmp}/kg_labels.parquet')")}
            SELECT * FROM candidates
            ORDER BY table_id, col_role, mention, lev, entity
        ) TO '{tmp}/candidates.parquet' (FORMAT PARQUET)
    """
    con.execute(sql)
    con.close()

    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write(f"version={VERSION} pages={N_PAGES} seed={SEED}\n")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    try:
        os.replace(tmp, out)
    except OSError:
        # lost a concurrent build race — the winner's dir is equivalent
        shutil.rmtree(tmp, ignore_errors=True)
    return out
