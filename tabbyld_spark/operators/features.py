"""Feature scoring (P10-P17) — the reference's five heuristic features as
joins + aggregations over the wide ``candidates`` DataFrame.

Candidate schema in: (table_id, col_role, mention, mention_norm, ner,
heading_labels, entity, lev).  Each feature adds one column; aggregation
(P18/P19) is a single arithmetic expression at the end.

Scale notes — this box (like any bandwidth-bound executor) moves shuffle
bytes at a fixed aggregate rate, so every feature computes over a NARROW
projection keyed by surrogate 64-bit hashes and joins back on those keys:

  * mention_key = skey(table_id, col_role, mention)  (candidate grain
    together with ent_key; one xxhash64 long by default — globally unique
    w.h.p. at bench scale — widened to an independent two-half 128-bit
    struct under SPARK_GRAFT_KEYBITS=128 for 10^12-doc runs; still ONE key
    column, so plan shape is unchanged — see functions/keys.py).
    Identity-bearing operations
    (candidate dedup, the cap/CEA/heading windows) additionally carry the
    original strings in their keys — co-partitioned, so the guard costs
    nothing — meaning a 64-bit collision can only mis-attribute one narrow
    feature value, never merge two mentions/candidates into one.
  * ent_key     = skey(entity)
  * context values compare by hash too (reference semantics is exact string
    equality — levenshtein == 0 — so hash equality is the same predicate)

The wide candidates table is hash-partitioned by mention_key once (the
cap_candidates window exchange) and checkpointed; every feature join-back
clusters on (mention_key, ent_key), which HashPartitioning(mention_key)
already satisfies — Catalyst re-shuffles only the narrow feature side, never
the wide side.  kg_types / kg_subclass / the NER-class map broadcast; the
semantic-similarity pair voting (P16) is quadratic per table — bounded by the
candidate cap — and shuffles long-keyed rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tabbyld_spark.fixtures.kg import DBO, DBR, NER_CLASS
from tabbyld_spark.functions.frames import local_frame
from tabbyld_spark.functions.keys import entity_skey, mention_skey, skey
from tabbyld_spark.functions.normalize import entity_localname

_KEY = ["mention_key", "ent_key"]


def _join_back(
    cands: DataFrame, feats: DataFrame, fill: dict, feat_rows: int | None = None
) -> DataFrame:
    """Left-join a per-candidate feature frame onto the wide candidates.

    The feature side scales WITH the candidate count (unbounded), so a
    blanket broadcast is categorically wrong at scale — and Catalyst's size
    estimate for these derived aggregates is unreliable in both directions
    (measured: a borderline under-estimate OOM'd an 8g driver at 160k pages;
    an over-estimate silently demoted a 20 KB frame, costing 45% pipeline
    wall time).  The pipeline therefore passes ``feat_rows`` — the EXACT
    candidate count from the checkpointed candidates stage, an upper bound on
    every per-candidate feature aggregate — and the join side is chosen from
    that count: broadcast while the estimated build fits (small/medium runs),
    sort-merge on the surrogate longs beyond (the shape that survives 100x).
    Unknown count ⇒ sort-merge (fail closed)."""
    from tabbyld_spark.functions.joins import count_gated_hint

    return cands.join(count_gated_hint(feats, feat_rows), _KEY, "left").fillna(fill)


def ensure_keys(cands: DataFrame) -> DataFrame:
    """Attach surrogate join keys if absent (idempotent; pure column exprs)."""
    if "mention_key" not in cands.columns:
        cands = cands.withColumn("mention_key", mention_skey())
    if "ent_key" not in cands.columns and "entity" in cands.columns:
        cands = cands.withColumn("ent_key", entity_skey())
    return cands


def _ner_paths(cands: DataFrame, kg_types: DataFrame, kg_subclass: DataFrame) -> DataFrame:
    """P10 aggregate: (mention_key, ent_key, ner_rank) for candidates with a
    type ⊑* NerClass path; absentees mean rank 0."""
    ner_map = local_frame(
        cands.sparkSession, list(NER_CLASS.items()), "ner string, ner_class string"
    )
    up = kg_subclass.select(F.col("child").alias("class"), F.col("parent").alias("mid"))
    up2 = kg_subclass.select(F.col("child").alias("mid"), F.col("parent").alias("ner_class"))
    return (
        cands.select(*_KEY, "entity", "ner")
        .join(F.broadcast(ner_map), "ner")
        .join(kg_types, "entity")
        .join(F.broadcast(up), "class")
        .join(F.broadcast(up2), ["mid", "ner_class"])
        .groupBy(*_KEY)
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("ner_rank", F.floor(F.lit(2) / F.col("_n")).cast("double"))
        .select(*_KEY, "ner_rank")
    )


def _heading_scored(cands: DataFrame, kg_types: DataFrame) -> DataFrame:
    """P11 aggregate: (mention_key, ent_key, heading_rank) for candidates
    with dbo classes AND heading labels; absentees mean rank 100."""
    return (
        cands.filter(F.size("heading_labels") > 0)
        .select(*_KEY, "entity", F.explode("heading_labels").alias("hl"))
        .join(kg_types.filter(F.col("class").startswith(DBO)), "entity")
        .withColumn("_d", F.levenshtein(entity_localname("class"), F.col("hl")))
        .groupBy(*_KEY)
        .agg(F.least(F.min("_d"), F.lit(100)).cast("double").alias("heading_rank"))
    )


def ner_class_rank(
    cands: DataFrame,
    kg_types: DataFrame,
    kg_subclass: DataFrame,
    feat_rows: int | None = None,
) -> DataFrame:
    """P10 (CanonicalTableAnnotator.php:424-457): the SPARQL property path
    ``<e> rdf:type/rdfs:subClassOf* ?i . ?i rdfs:subClassOf* <NerClass>``
    counts every class C with type(e) ⊑* C ⊑* NerClass (with multiplicity
    over types); depth = count/2; rank = (int)(1/depth) — i.e. int(2/count).
    """
    cands = ensure_keys(cands)
    paths = _ner_paths(cands, kg_types, kg_subclass)
    return _join_back(cands, paths, {"ner_rank": 0.0}, feat_rows)


def heading_rank(
    cands: DataFrame, kg_types: DataFrame, feat_rows: int | None = None
) -> DataFrame:
    """P11 (CanonicalTableAnnotator.php:466-505): min Levenshtein between any
    dbo: class localname of the candidate and any (normalized) heading label
    of the mention's winning row; 100 when no classes/labels."""
    cands = ensure_keys(cands)
    scored = _heading_scored(cands, kg_types)
    return _join_back(cands, scored, {"heading_rank": 100.0}, feat_rows)


def base_feature_ranks(
    cands: DataFrame,
    kg_types: DataFrame,
    kg_subclass: DataFrame,
    feat_rows: int | None = None,
) -> DataFrame:
    """P10 + P11 with ONE wide-table join-back: the two narrow per-candidate
    aggregates full-outer-join each other first (longs + a double), then the
    wide candidates frame — with its strings and heading_labels arrays —
    shuffles once instead of twice.  Identical output to composing
    ner_class_rank ∘ heading_rank (both per-feature functions remain for the
    oracle queries)."""
    cands = ensure_keys(cands)
    feats = _ner_paths(cands, kg_types, kg_subclass).join(
        _heading_scored(cands, kg_types), _KEY, "full_outer"
    )
    return _join_back(cands, feats, {"ner_rank": 0.0, "heading_rank": 100.0}, feat_rows)


def entity_context(cands: DataFrame, kg_triples: DataFrame, hashed: bool = True) -> DataFrame:
    """P13 (CanonicalTableAnnotator.php:689-725): multiset of dbo/dbr
    neighbours (both directions, dbo/dbr predicates only) per candidate
    entity, pre-aggregated to counts: (ent_key, vhash, m) — the neighbour
    localname travels as a hash because the downstream overlap (P14) is exact
    string equality.  ``hashed=False`` returns the un-hashed
    (entity, ctx_local, m) shape (oracle compare; wider shuffle — the hot
    pipeline path keeps the surrogate-long grouping)."""
    cands = ensure_keys(cands)
    ents = cands.select("ent_key", "entity").distinct()
    pred_ok = F.col("pred").startswith(DBO) | F.col("pred").startswith(DBR)
    outgoing = (
        kg_triples.filter(pred_ok & (F.col("obj").startswith(DBO) | F.col("obj").startswith(DBR)))
        .join(ents, kg_triples.subj == ents.entity)
        .select("ent_key", "entity", F.col("obj").alias("ctx"))
    )
    incoming = (
        kg_triples.filter(pred_ok & (F.col("subj").startswith(DBO) | F.col("subj").startswith(DBR)))
        .join(ents, kg_triples.obj == ents.entity)
        .select("ent_key", "entity", F.col("subj").alias("ctx"))
    )
    both = outgoing.unionByName(incoming)
    if not hashed:
        return (
            both.withColumn("ctx_local", entity_localname("ctx"))
            .groupBy("entity", "ctx_local")
            .agg(F.count(F.lit(1)).alias("m"))
        )
    return (
        both.withColumn("vhash", skey(entity_localname("ctx")))
        .groupBy("ent_key", "vhash")
        .agg(F.count(F.lit(1)).alias("m"))
    )


def context_similarity(
    cands: DataFrame,
    entry_ctx: DataFrame,
    ent_ctx: DataFrame,
    feat_rows: int | None = None,
) -> DataFrame:
    """P14 (CanonicalTableAnnotator.php:733-812): count of exact string
    matches (levenshtein == 0 ⇒ equality) between the mention's entry context
    (raw neighbouring DATA values, with multiplicity) and the candidate's
    entity-context localnames.  Σ n·m via a join on the value hash.
    Applies to DATA mentions only; heading roles get 0.

    ``entry_ctx``: (ctx_key, vhash, n) from mentions.entry_context, or the
    legacy (table_id, mention, ctx_value, n) shape (keys derived here).
    ``ent_ctx``: (ent_key, vhash, m) from entity_context, or legacy
    (entity, ctx_local, m)."""
    cands = ensure_keys(cands)
    if "ctx_key" not in entry_ctx.columns:
        entry_ctx = entry_ctx.select(
            skey("table_id", "mention").alias("ctx_key"),
            skey("ctx_value").alias("vhash"),
            "n",
        )
    if "ent_key" not in ent_ctx.columns:
        ent_ctx = ent_ctx.select(
            entity_skey().alias("ent_key"),
            skey("ctx_local").alias("vhash"),
            "m",
        )
    overlap = (
        cands.filter(F.col("col_role") == "DATA")
        .select(*_KEY, skey("table_id", "mention").alias("ctx_key"))
        .join(entry_ctx, "ctx_key")
        .join(ent_ctx, ["ent_key", "vhash"])
        .groupBy(*_KEY)
        .agg(F.sum(F.col("n") * F.col("m")).cast("double").alias("ctx_rank"))
    )
    return _join_back(cands, overlap, {"ctx_rank": 0.0}, feat_rows)


def parent_classes(cands: DataFrame, kg_triples: DataFrame, hashed: bool = True) -> DataFrame:
    """P15 (CanonicalTableAnnotator.php:191-215): dbo:-prefixed objects of any
    property of the candidate → (ent_key, pclass localname), deduped.  All
    pclasses share the dbo: prefix, so localname order == URI order and the
    downstream deterministic tiebreak (P16) is unchanged.  ``hashed=False``
    returns (entity, pclass) for the oracle compare."""
    cands = ensure_keys(cands)
    ents = cands.select("ent_key", "entity").distinct()
    key = F.col("ent_key") if hashed else F.col("entity")
    return (
        kg_triples.filter(F.col("obj").startswith(DBO))
        .join(ents, kg_triples.subj == ents.entity)
        .select(key.alias("ent_key" if hashed else "entity"), entity_localname("obj").alias("pclass"))
        .distinct()
    )


def semantic_similarity(
    cands: DataFrame,
    pclasses: DataFrame,
    feat_rows: int | None = None,
) -> DataFrame:
    """P16 (CanonicalTableAnnotator.php:513-623): cross-cell candidate class
    voting within each table.

    For each DATA candidate a and every candidate b of a *different* mention
    in the same table (both having parent classes): vote for a's parent class
    with the minimum Levenshtein distance to any of b's parent classes
    (deterministic tiebreak: lexicographically-first class — the reference's
    first-wins over an endpoint-ordered list is nondeterministic, documented
    delta).  rank = top vote count / 10^k where 10^k brackets the max vote
    count among the mention's candidates (:586-593); 0 when no votes.

    Pair rows carry surrogate longs + class localnames only — the per-table
    quadratic stage shuffles no full strings.
    """
    cands = ensure_keys(cands)
    if "pclass" in pclasses.columns and "ent_key" not in pclasses.columns:
        pclasses = pclasses.select(
            entity_skey().alias("ent_key"),
            entity_localname("pclass").alias("pclass"),
        )
    base = cands.filter(F.col("col_role") == "DATA").select(
        F.xxhash64("table_id").alias("table_key"), "mention_key", "ent_key"
    )
    a = base.join(pclasses, "ent_key").select(
        "table_key",
        F.col("mention_key").alias("a_m"),
        F.col("ent_key").alias("a_e"),
        F.col("pclass").alias("a_c"),
    )
    b = base.join(pclasses, "ent_key").select(
        "table_key",
        F.col("mention_key").alias("b_m"),
        F.col("ent_key").alias("b_e"),
        F.col("pclass").alias("b_c"),
    )
    pairs = a.join(b, "table_key").filter(F.col("a_m") != F.col("b_m"))
    # one explicit exchange on table_key alone: when the pair join broadcasts
    # (small side under threshold) its output carries no useful partitioning,
    # and a groupBy would shuffle on its full key set — after which each
    # narrower downstream key set would shuffle AGAIN.  hash(table_key) is a
    # subset of every aggregation/window key below, so this single exchange
    # satisfies all of them.
    # equal-strings fast path: candidate class vocabularies overlap heavily,
    # so a large share of pairs compare identical localnames — an equality
    # probe is O(len) vs the O(len²) edit-distance DP (VERDICT r3 #7).
    dist = pairs.repartition("table_key").withColumn(
        "_d",
        F.when(F.col("a_c") == F.col("b_c"), F.lit(0)).otherwise(
            F.levenshtein("a_c", "b_c")
        ),
    )
    # Exchange-count discipline: table_key rides as the LEADING key of every
    # aggregation/window below.  It is functionally determined by a_m (the
    # mention hash encodes the table), so results are unchanged — but because
    # each groupBy/window then clusters on a superset of {table_key}, the one
    # hash(table_key) partitioning the pair join already produced satisfies
    # ALL of them and Catalyst inserts no further exchanges (5 shuffles → 1;
    # a window-partition key that is a strict subset of the incoming hash
    # keys would NOT be satisfied and would re-shuffle).
    per_ac = dist.groupBy("table_key", "a_m", "a_e", "b_m", "b_e", "a_c").agg(
        F.min("_d").alias("_md")
    )
    sel_w = Window.partitionBy("table_key", "a_m", "a_e", "b_m", "b_e").orderBy(
        F.asc("_md"), F.asc("a_c")
    )
    selected = per_ac.withColumn("_rn", F.row_number().over(sel_w)).filter(
        F.col("_rn") == 1
    )
    votes = selected.groupBy("table_key", "a_m", "a_e", "a_c").agg(
        F.count(F.lit(1)).alias("v")
    )
    top = votes.groupBy("table_key", "a_m", "a_e").agg(F.max("v").alias("top_v"))
    # coefficient bracket per mention from the max vote among its candidates
    coeff = top.groupBy("table_key", "a_m").agg(F.max("top_v").alias("max_v"))
    # brackets 10/100/1000/10000 exactly as :586-593; max_v ≥ 10000 leaves the
    # coefficient 0 in the reference → rank 0 (quirk preserved)
    coeff = coeff.withColumn(
        "coef",
        F.when(
            (F.col("max_v") >= 1) & (F.col("max_v") < 10000),
            F.pow(F.lit(10.0), F.ceil(F.log10(F.col("max_v") + 0.5))),
        ).otherwise(F.lit(0.0)),
    )
    from tabbyld_spark.functions.joins import count_gated_hint

    # coeff is at (table, mention) grain — bounded by feat_rows too
    ranked = (
        top.join(count_gated_hint(coeff, feat_rows), ["table_key", "a_m"])
        .withColumn(
            "sem_rank",
            F.when(F.col("coef") != 0, F.col("top_v") / F.col("coef")).otherwise(F.lit(0.0)),
        )
        .select(
            F.col("a_m").alias("mention_key"),
            F.col("a_e").alias("ent_key"),
            "sem_rank",
        )
    )
    return _join_back(cands, ranked, {"sem_rank": 0.0}, feat_rows)


def relationship_rank(
    cands: DataFrame, kg_triples: DataFrame, feat_rows: int | None = None
) -> DataFrame:
    """P17 (CanonicalTableAnnotator.php:245-372): count of KG triples
    ``<candA> ?p <candB>`` where candB belongs to a different mention of the
    same table.  Disabled (weight ≡ 1) in the reference's final aggregation
    (:410) but implemented — it is the CPA signal."""
    cands = ensure_keys(cands)
    base = cands.select(
        F.xxhash64("table_id").alias("table_key"),
        *_KEY,
        "entity",
    )
    b = base.select(
        "table_key",
        F.col("mention_key").alias("b_m"),
        F.col("entity").alias("b_ent"),
    )
    hits = (
        base.join(kg_triples, base.entity == kg_triples.subj)
        .join(
            b,
            (F.col("obj") == F.col("b_ent"))
            & (base.table_key == b.table_key)
            & (F.col("mention_key") != F.col("b_m")),
        )
        .groupBy(*_KEY)
        .agg(F.count(F.lit(1)).cast("double").alias("rel_rank"))
    )
    return _join_back(cands, hits, {"rel_rank": 0.0}, feat_rows)
