"""DuckDB oracle SQL for the STI feature stack (P10-P19), CEA (P20) and the
exact-path triple emission — independent SQL re-derivations of each operator's
reference semantics, run by the driver against the parquet fixture that
:mod:`tabbyld_spark.fixtures.sti_fixture` materializes.

Every formula cites the reference implementation it re-derives
(/root/reference/components/CanonicalTableAnnotator.php); the Spark operators
in :mod:`tabbyld_spark.operators.features` cite the same lines, so the driver
comparing the two is a genuine two-engine check of the semantics, not of a
shared code path.  Where the Spark side deliberately uses surrogate-hash
equality (narrow shuffles), the SQL compares the raw strings — agreement also
demonstrates the hash keys introduced no collisions on the fixture.
"""

from __future__ import annotations

from tabbyld_spark.fixtures.kg import DBO, DBR, NER_CLASS, NER_INSTANCE
from tabbyld_spark.functions.normalize import entity_localname_sql

from .sti_fixture import sql_candidates, sql_mentions

_KEYCOLS = "table_id, col_role, mention, entity"


def _fx_tables(fx: str, *names: str) -> str:
    return ",\n".join(
        f"{n} AS (SELECT * FROM read_parquet('{fx}/{n}.parquet'))" for n in names
    )


def _ner_map_cte() -> str:
    rows = ", ".join(f"('{ner}', '{cls}')" for ner, cls in sorted(NER_CLASS.items()))
    return f"ner_map AS (SELECT * FROM (VALUES {rows}) AS t(ner, ner_class))"


# ---------------------------------------------------------------------------
# per-feature fragments: each SELECTs (table_id, col_role, mention, entity,
# <feature>) from a CTE named ``candidates`` (+ kg tables)
# ---------------------------------------------------------------------------

def _ner_rank_ctes() -> str:
    """P10 — :424-457: |{C : type(e) ⊑* C ⊑* NerClass}| with multiplicity,
    depth = count/2, rank = (int)(1/depth) = floor(2/count)."""
    return f"""
        {_ner_map_cte()},
        ner_paths AS (
            SELECT c.table_id, c.col_role, c.mention, c.entity, count(*) AS _n
            FROM candidates c
            JOIN ner_map nm ON c.ner = nm.ner
            JOIN kg_types t ON t.entity = c.entity
            JOIN kg_subclass up ON up.child = t.class
            JOIN kg_subclass up2 ON up2.child = up.parent AND up2.parent = nm.ner_class
            GROUP BY 1, 2, 3, 4
        ),
        f_ner AS (
            SELECT c.table_id, c.col_role, c.mention, c.entity,
                   coalesce(CAST(floor(2 / p._n) AS DOUBLE), 0.0) AS ner_rank
            FROM candidates c
            LEFT JOIN ner_paths p USING (table_id, col_role, mention, entity)
        )
    """


def _heading_rank_ctes() -> str:
    """P11 — :466-505: min levenshtein(dbo-class localname, heading label),
    capped at 100; 100 when no classes/labels."""
    local_cls = entity_localname_sql("t.class")
    return f"""
        hr_exploded AS (
            SELECT c.table_id, c.col_role, c.mention, c.entity, h.hl
            FROM candidates c, LATERAL unnest(c.heading_labels) AS h(hl)
            WHERE len(c.heading_labels) > 0
        ),
        hr_scored AS (
            SELECT e.table_id, e.col_role, e.mention, e.entity,
                   least(min(levenshtein({local_cls}, e.hl)), 100) AS hr
            FROM hr_exploded e
            JOIN kg_types t ON t.entity = e.entity AND starts_with(t.class, '{DBO}')
            GROUP BY 1, 2, 3, 4
        ),
        f_heading AS (
            SELECT c.table_id, c.col_role, c.mention, c.entity,
                   coalesce(CAST(s.hr AS DOUBLE), 100.0) AS heading_rank
            FROM candidates c
            LEFT JOIN hr_scored s USING (table_id, col_role, mention, entity)
        )
    """


def _entry_ctx_cte(canonical: str) -> str:
    """P12 — :632-681 as the DIRECT row-pair count (the Spark side uses an
    inclusion-exclusion over pre-aggregated counts; agreeing answers check
    that algebra): rows sharing a non-empty row_heading OR column_heading,
    one contribution per (holder row, context row) pair, self included."""
    return f"""
        entry_ctx AS (
            SELECT r1.table_id, r1.data AS mention, r2.data AS ctx_value,
                   CAST(count(*) AS BIGINT) AS n
            FROM {canonical} r1
            JOIN {canonical} r2 ON r1.table_id = r2.table_id
             AND ((r1.row_heading <> '' AND r1.row_heading = r2.row_heading)
               OR (r1.column_heading <> '' AND r1.column_heading = r2.column_heading))
            GROUP BY 1, 2, 3
        )
    """


def _entity_ctx_ctes() -> str:
    """P13 — :689-725: multiset of dbo/dbr neighbours (both directions,
    dbo/dbr predicates only) per candidate entity, as localnames."""
    pred_ok = f"(starts_with(t.pred, '{DBO}') OR starts_with(t.pred, '{DBR}'))"
    return f"""
        ec_ents AS (SELECT DISTINCT entity FROM candidates),
        ec_nbr AS (
            SELECT e.entity, t.obj AS ctx
            FROM kg_triples t JOIN ec_ents e ON t.subj = e.entity
            WHERE {pred_ok}
              AND (starts_with(t.obj, '{DBO}') OR starts_with(t.obj, '{DBR}'))
            UNION ALL
            SELECT e.entity, t.subj AS ctx
            FROM kg_triples t JOIN ec_ents e ON t.obj = e.entity
            WHERE {pred_ok}
              AND (starts_with(t.subj, '{DBO}') OR starts_with(t.subj, '{DBR}'))
        ),
        ent_ctx AS (
            SELECT entity, {entity_localname_sql('ctx')} AS ctx_local,
                   CAST(count(*) AS BIGINT) AS m
            FROM ec_nbr GROUP BY 1, 2
        )
    """


def _ctx_similarity_ctes(canonical: str) -> str:
    """P14 — :733-812: Σ n·m over exact raw-value == neighbour-localname
    matches (levenshtein == 0 ⇒ equality); DATA mentions only."""
    return f"""
        {_entry_ctx_cte(canonical)},
        {_entity_ctx_ctes()},
        ctx_overlap AS (
            SELECT c.table_id, c.col_role, c.mention, c.entity,
                   sum(ec.n * xc.m) AS ctx
            FROM candidates c
            JOIN entry_ctx ec ON ec.table_id = c.table_id AND ec.mention = c.mention
            JOIN ent_ctx xc ON xc.entity = c.entity AND xc.ctx_local = ec.ctx_value
            WHERE c.col_role = 'DATA'
            GROUP BY 1, 2, 3, 4
        ),
        f_ctx AS (
            SELECT c.table_id, c.col_role, c.mention, c.entity,
                   coalesce(CAST(o.ctx AS DOUBLE), 0.0) AS ctx_rank
            FROM candidates c
            LEFT JOIN ctx_overlap o USING (table_id, col_role, mention, entity)
        )
    """


def _parent_classes_cte() -> str:
    """P15 — :191-215: distinct dbo-prefixed objects of any property."""
    return f"""
        pcl AS (
            SELECT DISTINCT e.entity, {entity_localname_sql('t.obj')} AS pclass
            FROM kg_triples t
            JOIN (SELECT DISTINCT entity FROM candidates) e ON t.subj = e.entity
            WHERE starts_with(t.obj, '{DBO}')
        )
    """


def _sem_similarity_ctes() -> str:
    """P16 — :513-623: cross-cell class voting.  For each DATA candidate a
    and each other-mention candidate b in the same table, a's class with the
    min levenshtein to any of b's classes (tiebreak class asc) gets one vote;
    rank = top votes / 10^k bracket of the mention's max votes (:586-593,
    bracket 0 for max ≥ 10000 — quirk preserved)."""
    return f"""
        {_parent_classes_cte()},
        sem_cp AS (
            SELECT c.table_id, c.mention, c.entity, p.pclass
            FROM candidates c JOIN pcl p ON p.entity = c.entity
            WHERE c.col_role = 'DATA'
        ),
        sem_pair AS (
            SELECT a.table_id, a.mention AS am, a.entity AS ae,
                   b.mention AS bm, b.entity AS be, a.pclass AS ac,
                   min(levenshtein(a.pclass, b.pclass)) AS md
            FROM sem_cp a
            JOIN sem_cp b ON a.table_id = b.table_id AND a.mention <> b.mention
            GROUP BY 1, 2, 3, 4, 5, 6
        ),
        sem_sel AS (
            SELECT *, row_number() OVER (PARTITION BY table_id, am, ae, bm, be
                          ORDER BY md ASC, ac ASC) AS rn
            FROM sem_pair
        ),
        sem_votes AS (
            SELECT table_id, am, ae, ac, count(*) AS v
            FROM sem_sel WHERE rn = 1 GROUP BY 1, 2, 3, 4
        ),
        sem_top AS (
            SELECT table_id, am, ae, max(v) AS top_v FROM sem_votes GROUP BY 1, 2, 3
        ),
        sem_coef AS (
            SELECT table_id, am,
                   CASE WHEN max(top_v) >= 1 AND max(top_v) < 10000
                        THEN power(10.0, ceil(log10(max(top_v) + 0.5)))
                        ELSE 0.0 END AS coef
            FROM sem_top GROUP BY 1, 2
        ),
        sem_ranked AS (
            SELECT t.table_id, t.am, t.ae,
                   CASE WHEN c2.coef <> 0 THEN t.top_v / c2.coef ELSE 0.0 END AS sr
            FROM sem_top t
            JOIN sem_coef c2 ON c2.table_id = t.table_id AND c2.am = t.am
        ),
        f_sem AS (
            SELECT c.table_id, c.col_role, c.mention, c.entity,
                   coalesce(r.sr, 0.0) AS sem_rank
            FROM candidates c
            LEFT JOIN sem_ranked r ON r.table_id = c.table_id AND r.am = c.mention
                 AND r.ae = c.entity AND c.col_role = 'DATA'
        )
    """


def _rel_rank_ctes() -> str:
    """P17 — :245-372: count of KG triples <candA> ?p <candB> where candB
    belongs to a DIFFERENT mention of the same table."""
    return """
        rel_hits AS (
            SELECT a.table_id, a.col_role, a.mention, a.entity, count(*) AS n
            FROM candidates a
            JOIN kg_triples t ON t.subj = a.entity
            JOIN candidates b ON b.entity = t.obj AND b.table_id = a.table_id
                 AND NOT (b.col_role = a.col_role AND b.mention = a.mention)
            GROUP BY 1, 2, 3, 4
        ),
        f_rel AS (
            SELECT c.table_id, c.col_role, c.mention, c.entity,
                   coalesce(CAST(h.n AS DOUBLE), 0.0) AS rel_rank
            FROM candidates c
            LEFT JOIN rel_hits h USING (table_id, col_role, mention, entity)
        )
    """


def _agg_ctes(canonical: str) -> str:
    """P18/P19 — all five features + the aggregation formulas
    (:860-863 DATA, :409-410 headings; weights all 1, heading relationship
    term hard-coded 1).  Explicit parens mirror the Spark expression's
    left-to-right evaluation so the doubles agree bitwise."""
    return f"""
        {_ner_rank_ctes()},
        {_heading_rank_ctes()},
        {_ctx_similarity_ctes(canonical)},
        {_sem_similarity_ctes()},
        agged AS (
            SELECT c.table_id, c.col_role, c.mention, c.mention_norm, c.entity,
                   CASE WHEN c.col_role = 'DATA'
                        THEN (((((1 - c.lev / 100.0) + n.ner_rank)
                              + (1 - h.heading_rank / 100.0)) + x.ctx_rank) + s.sem_rank)
                        ELSE (((1 - c.lev / 100.0) + n.ner_rank) + 1)
                   END AS agg_rank
            FROM candidates c
            JOIN f_ner n USING ({_KEYCOLS})
            JOIN f_heading h USING ({_KEYCOLS})
            JOIN f_ctx x USING ({_KEYCOLS})
            JOIN f_sem s USING ({_KEYCOLS})
        )
    """


def _cea_ctes(canonical: str) -> str:
    """P20 + literal shortcut (P7, :1061-1098): argmax candidate per mention
    (agg desc, entity asc — the deterministic tiebreak both engines add),
    unioned with literal-NER instances at rank 1.

    ``cea`` is MATERIALIZED: DuckDB 1.0 inlines a non-materialised CTE at
    every reference, and the full chain references ``cea`` up to five times
    (triples, CTA and CPA votes, OWL), each copy with the whole feature stack."""
    lit_cases = " ".join(
        f"WHEN '{ner}' THEN '{uri}'" for ner, uri in sorted(NER_INSTANCE.items())
    )
    lits = ", ".join(f"'{x}'" for x in sorted(NER_INSTANCE))
    return f"""
        {_agg_ctes(canonical)},
        cea AS MATERIALIZED (
            SELECT table_id, col_role, mention, mention_norm, entity, agg_rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY table_id, col_role, mention
                              ORDER BY agg_rank DESC, entity ASC) AS _rn
                FROM agged
            ) WHERE _rn = 1
            UNION ALL
            SELECT table_id, col_role, mention, mention_norm,
                   CASE ner {lit_cases} END AS entity,
                   1.0 AS agg_rank
            FROM mentions WHERE ner IN ({lits})
        )
    """


def _triples_ctes(canonical: str) -> str:
    """CTA/CPA majority voting + triple emission (P24) on top of the ``cea``
    CTE — the SQL twin of operators/aggregate.py cta_vote/cpa_vote and
    operators/triples.py emit_triples."""
    from tabbyld_spark.operators.triples import OWL_THING, P_CEA, P_CPA, P_CTA, RDF_TYPE

    return f"""
        cta_votes AS (
            SELECT cn.table_id, cn.column_heading AS colname, t.class, count(*) AS votes
            FROM {canonical} cn
            JOIN cea w ON w.table_id = cn.table_id AND w.mention = cn.data
                 AND w.col_role = 'DATA'
            JOIN kg_types t ON t.entity = w.entity AND starts_with(t.class, '{DBO}')
            GROUP BY 1, 2, 3
        ),
        cta AS (
            SELECT table_id, colname, class FROM (
                SELECT *, row_number() OVER (PARTITION BY table_id, colname
                              ORDER BY votes DESC, class ASC) AS rn
                FROM cta_votes
            ) WHERE rn = 1
        ),
        cpa_rows AS (
            SELECT cn.table_id, p.part AS row_mention,
                   cn.column_heading AS col_b, cn.data AS data_mention
            FROM {canonical} cn, LATERAL unnest(string_split(cn.row_heading, ' | ')) AS p(part)
        ),
        cpa_votes AS (
            SELECT r.table_id, r.col_b, t.pred, count(*) AS votes
            FROM cpa_rows r
            JOIN cea rw ON rw.table_id = r.table_id AND rw.mention = r.row_mention
                 AND rw.col_role = 'ROW'
            JOIN cea dw ON dw.table_id = r.table_id AND dw.mention = r.data_mention
                 AND dw.col_role = 'DATA'
            JOIN kg_triples t ON t.subj = rw.entity AND t.obj = dw.entity
            GROUP BY 1, 2, 3
        ),
        cpa AS (
            SELECT table_id, col_b, pred FROM (
                SELECT *, row_number() OVER (PARTITION BY table_id, col_b
                              ORDER BY votes DESC, pred ASC) AS rn
                FROM cpa_votes
            ) WHERE rn = 1
        ),
        triples AS (
            SELECT table_id || '#' || col_role || '#' || mention_norm AS subj,
                   '{P_CEA}' AS pred, entity AS obj
            FROM cea
            UNION ALL
            SELECT DISTINCT entity AS subj, '{RDF_TYPE}' AS pred, '{OWL_THING}' AS obj
            FROM cea
            UNION ALL
            SELECT table_id || '#' || colname AS subj, '{P_CTA}' AS pred, class AS obj
            FROM cta
            UNION ALL
            SELECT c.table_id || '#RowHeading#' || c.col_b AS subj,
                   '{P_CPA}' AS pred, c.pred AS obj
            FROM cpa c
        )
    """


def _owl_ctes() -> str:
    """OWL ontology emission (P25) on top of the ``cea``/``cta``/``cpa`` CTEs
    — the SQL twin of operators/export.py owl_triples (OWLCodeGenerator.php
    semantics as (subj, pred, obj) axiom rows).  Mirrors the Spark side's
    union structure exactly: per-branch DISTINCT, no global dedup, xsd type
    sniffed from the winning literal instance URI (:38-50)."""
    from tabbyld_spark.operators.export import OWL, RDF_TYPE, RDFS, XSD

    lit_uris = ", ".join(f"'{u}'" for u in sorted(NER_INSTANCE.values()))
    xsd_case = (
        "CASE entity "
        + " ".join(
            f"WHEN '{NER_INSTANCE[label]}' THEN '{XSD}{t}'"
            for label, t in (
                ("NUMBER", "double"),
                ("PERCENT", "double"),
                ("MONEY", "double"),
                ("DATE", "date"),
                ("TIME", "time"),
            )
        )
        + f" ELSE '{XSD}string' END"
    )
    return f"""
        owl_dt AS (
            SELECT DISTINCT table_id || '#' || col_role AS p, {xsd_case} AS xsd
            FROM cea WHERE entity IN ({lit_uris})
        ),
        owl AS (
            SELECT DISTINCT class AS subj, '{RDF_TYPE}' AS pred,
                   '{OWL}Class' AS obj
            FROM cta
            UNION ALL
            SELECT DISTINCT c.class AS subj, '{RDFS}subClassOf' AS pred,
                   s.parent AS obj
            FROM (SELECT DISTINCT class FROM cta) c
            JOIN kg_subclass s ON s.child = c.class AND s.depth = 1
            UNION ALL
            SELECT DISTINCT p.pred AS subj, '{RDF_TYPE}' AS pred,
                   '{OWL}ObjectProperty' AS obj
            FROM cpa p
            UNION ALL
            SELECT DISTINCT p.pred AS subj, '{RDFS}range' AS pred,
                   r.class AS obj
            FROM cpa p
            JOIN cta r ON r.table_id = p.table_id AND r.colname = p.col_b
            UNION ALL
            SELECT p AS subj, '{RDF_TYPE}' AS pred,
                   '{OWL}DatatypeProperty' AS obj
            FROM owl_dt
            UNION ALL
            SELECT p AS subj, '{RDFS}range' AS pred, xsd AS obj
            FROM owl_dt WHERE xsd IS NOT NULL
            UNION ALL
            SELECT DISTINCT entity AS subj, '{RDF_TYPE}' AS pred,
                   '{OWL}NamedIndividual' AS obj
            FROM cea
            WHERE entity NOT IN ({lit_uris}) AND starts_with(entity, 'http')
        )
    """


def _annotate_rows_ctes(canonical: str) -> str:
    """P21 (SpreadsheetController.php:569-684) on top of ``cea``: rebuild each
    canonical row substituting winning URIs; multi-valued headings re-packed
    with " | " preserving part order."""
    return f"""
        ar_parts AS (
            SELECT table_id, row_idx, col_idx, 'ROW' AS col_role, r.i AS pos,
                   parts[r.i] AS part
            FROM (SELECT table_id, row_idx, col_idx,
                         string_split(row_heading, ' | ') AS parts FROM {canonical}),
                 LATERAL unnest(range(1, len(parts) + 1)) AS r(i)
            UNION ALL
            SELECT table_id, row_idx, col_idx, 'COL' AS col_role, r.i AS pos,
                   parts[r.i] AS part
            FROM (SELECT table_id, row_idx, col_idx,
                         string_split(column_heading, ' | ') AS parts FROM {canonical}),
                 LATERAL unnest(range(1, len(parts) + 1)) AS r(i)
        ),
        ar_packed AS (
            SELECT p.table_id, p.row_idx, p.col_idx,
                   string_agg(CASE WHEN p.col_role = 'ROW'
                                   THEN coalesce(w.entity, p.part) END, ' | '
                              ORDER BY p.pos) AS rh,
                   string_agg(CASE WHEN p.col_role = 'COL'
                                   THEN coalesce(w.entity, p.part) END, ' | '
                              ORDER BY p.pos) AS ch
            FROM ar_parts p
            LEFT JOIN cea w ON w.table_id = p.table_id AND w.col_role = p.col_role
                 AND w.mention = p.part
            GROUP BY 1, 2, 3
        ),
        annotated AS (
            SELECT cn.table_id, cn.row_idx, cn.col_idx,
                   coalesce(dw.entity, cn.data) AS data,
                   coalesce(pk.rh, '') AS row_heading,
                   coalesce(pk.ch, '') AS column_heading
            FROM {canonical} cn
            LEFT JOIN (SELECT table_id, mention, entity FROM cea
                       WHERE col_role = 'DATA') dw
                 ON dw.table_id = cn.table_id AND dw.mention = cn.data
            LEFT JOIN ar_packed pk ON pk.table_id = cn.table_id
                 AND pk.row_idx = cn.row_idx AND pk.col_idx = cn.col_idx
        )
    """


# ---------------------------------------------------------------------------
# public: the oracle dict
# ---------------------------------------------------------------------------

def sti_oracle_queries(fx: str) -> dict[str, str]:
    cand_src = _fx_tables(fx, "candidates", "kg_types", "kg_subclass", "kg_triples")
    canon = f"read_parquet('{fx}/canonical.parquet')"
    return {
        "q_ner_class_rank": f"""
            WITH {cand_src}, {_ner_rank_ctes()}
            SELECT {_KEYCOLS}, round(ner_rank, 6) AS ner_rank FROM f_ner
        """,
        "q_heading_rank": f"""
            WITH {cand_src}, {_heading_rank_ctes()}
            SELECT {_KEYCOLS}, round(heading_rank, 6) AS heading_rank FROM f_heading
        """,
        "q_entry_context": f"""
            WITH {_entry_ctx_cte(canon)}
            SELECT table_id, mention, ctx_value, n FROM entry_ctx
        """,
        "q_entity_context": f"""
            WITH {_fx_tables(fx, 'candidates', 'kg_triples')}, {_entity_ctx_ctes()}
            SELECT entity, ctx_local, m FROM ent_ctx
        """,
        "q_context_similarity": f"""
            WITH {_fx_tables(fx, 'candidates', 'kg_triples')}, {_ctx_similarity_ctes(canon)}
            SELECT {_KEYCOLS}, round(ctx_rank, 6) AS ctx_rank FROM f_ctx
        """,
        "q_parent_classes": f"""
            WITH {_fx_tables(fx, 'candidates', 'kg_triples')}, {_parent_classes_cte()}
            SELECT entity, pclass FROM pcl
        """,
        "q_semantic_similarity": f"""
            WITH {_fx_tables(fx, 'candidates', 'kg_triples')}, {_sem_similarity_ctes()}
            SELECT {_KEYCOLS}, round(sem_rank, 6) AS sem_rank FROM f_sem
        """,
        "q_relationship_rank": f"""
            WITH {_fx_tables(fx, 'candidates', 'kg_triples')}, {_rel_rank_ctes()}
            SELECT {_KEYCOLS}, round(rel_rank, 6) AS rel_rank FROM f_rel
        """,
        "q_agg_rank": f"""
            WITH {cand_src}, {_agg_ctes(canon)}
            SELECT {_KEYCOLS}, round(agg_rank, 6) AS agg_rank FROM agged
        """,
        # Exact-path results + fuzzy-path contract twins
        # (__spark_entry__.q_sti_cea / q_sti_triples): the Spark side emits
        # the full EXACT-path rows (SQL-twinned end-to-end) plus a live
        # coverage flag computed against the fuzzy run; the oracle asserts
        # the same exact rows with covered = true — so either an exact-chain
        # regression OR a fuzzy-branch regression that drops an exact-path
        # cell flips a value and the driver hash-compare fails.
        "q_sti_cea": f"""
            WITH {_fx_tables(fx, 'kg_labels', 'kg_types', 'kg_subclass', 'kg_triples')},
            {sql_mentions(canon)},
            {sql_candidates('kg_labels')},
            {_cea_ctes(canon)}
            SELECT table_id, col_role, mention, entity,
                   round(agg_rank, 6) AS agg_rank,
                   true AS covered
            FROM cea
        """,
        "q_sti_triples": f"""
            WITH {_fx_tables(fx, 'kg_labels', 'kg_types', 'kg_subclass', 'kg_triples')},
            {sql_mentions(canon)},
            {sql_candidates('kg_labels')},
            {_cea_ctes(canon)},
            {_triples_ctes(canon)},
            predstat AS (
                SELECT pred, CAST(count(*) AS BIGINT) AS n_pred
                FROM triples GROUP BY pred
            ),
            subjstat AS (
                SELECT subj, CAST(count(*) AS BIGINT) AS n_subj_triples
                FROM triples GROUP BY subj
            )
            SELECT t.subj, t.pred, t.obj, true AS covered,
                   predstat.n_pred, subjstat.n_subj_triples
            FROM triples t
            JOIN predstat USING (pred)
            JOIN subjstat USING (subj)
        """,
        "q_owl": f"""
            WITH {_fx_tables(fx, 'kg_labels', 'kg_types', 'kg_subclass', 'kg_triples')},
            {sql_mentions(canon)},
            {sql_candidates('kg_labels')},
            {_cea_ctes(canon)},
            {_triples_ctes(canon)},
            {_owl_ctes()}
            SELECT subj, pred, obj FROM owl
        """,
        "q_annotate_rows": f"""
            WITH {_fx_tables(fx, 'kg_labels', 'kg_types', 'kg_subclass', 'kg_triples')},
            {sql_mentions(canon)},
            {sql_candidates('kg_labels')},
            {_cea_ctes(canon)},
            {_annotate_rows_ctes(canon)}
            SELECT table_id, CAST(row_idx AS BIGINT) AS row_idx,
                   CAST(col_idx AS BIGINT) AS col_idx,
                   data, row_heading, column_heading
            FROM annotated
        """,
    }
