"""Mention extraction (P4/P5/P6/P12) — distinct annotatable values per table.

Faithful to the reference's grain and quirks
(/root/reference/components/CanonicalTableAnnotator.php:1019-1055, 876-906):

  * DATA cells are taken WHOLE (no " | " split — only headings split, :1046)
  * one mention per distinct raw value per (table, role); the *last* row
    containing the value wins for NER label and heading-label context
    (PHP assoc-array overwrite)
  * heading cells split on " | "; each part's NER label is the LAST part of
    its row's packed NER value (reference foreach-overwrite quirk, :894-898)
  * heading labels used for the heading-rank feature are the *normalized*
    row+column heading parts of the winning row (:1049-1051)
  * entry context (P12, :632-681): for each row holding the value, every
    row in the table sharing a non-empty row_heading OR column_heading
    contributes its DATA value — with multiplicity, self included

Everything is exploded/joined/aggregated native DataFrame ops; the "last
row wins" scans become one ``max_by`` aggregate per (table, role, value)
instead of the reference's O(rows²) loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tabbyld_spark.functions.keys import mention_skey, skey

from tabbyld_spark.functions.normalize import normalize_entry, split_multivalue

ROLE_DATA, ROLE_ROW, ROLE_COL = "DATA", "ROW", "COL"


def all_mentions(canonical: DataFrame, provided_ner: bool = False) -> DataFrame:
    """All three roles in ONE canonical scan, one explode, one aggregate.

    The fused shape matters at scale: the checkpointed canonical blocks are
    the pipeline's widest materialization, and a per-role union would
    re-read them once per role (3× block traffic) and aggregate twice.
    Here each row emits its DATA struct plus one struct per heading part,
    and a single groupBy(table_id, col_role, mention) max_by picks the
    last-row-wins winner for every role at once — the role is IN the group
    key, so winners are per (table, role, mention).  ``max_by`` over
    (row_idx, col_idx) instead of a row_number window: hash aggregation
    partial-aggregates map-side (the shuffle moves one pre-reduced row per
    group per map task, never every holder row) and needs no sort;
    (row_idx, col_idx) is unique per table, so the winner is
    deterministic.  The normalize-based emptiness filter stays BEFORE the
    aggregate on purpose: it is highly selective on web tables (numeric /
    punctuation-only cells normalize to ''), so running it pre-shuffle prunes
    far more bytes than the per-row regex costs — measured +19s at 4 cores /
    80k pages when moved after the aggregate.  The cheap raw ``mention != ''``
    conjunct short-circuits the regex chain on empty cells.

    Per-row values referenced inside the transform lambdas (packed-NER last
    part, heading-label array) are pre-projected to bound attributes so no
    HOF re-evaluates them per element.

    CPU discipline (job-profiled: this map stage alone was 16% of pipeline
    task time): the emptiness filter runs the predicate
    ``rlike '[alnum]'`` — exactly equivalent to ``normalize_entry(x) != ''``
    (normalization only drops non-alphanumerics and collapses/trims
    whitespace, so the result is empty iff the input has no letter/digit) —
    one regex FIND per exploded mention instead of the full two-pass
    replace+trim+case chain; and heading labels travel RAW through the
    aggregate (same bytes), with normalize applied post-agg to the single
    winning row's parts — per mention, not per canonical row."""
    _NONEMPTY_RE = "[a-zA-Zа-яА-Я0-9]"
    labels = F.concat(
        split_multivalue("row_heading"), split_multivalue("column_heading")
    )
    empty = F.array().cast("array<string>")
    null_s = F.lit(None).cast("string")
    src = canonical.select(
        "table_id",
        "row_idx",
        "col_idx",
        "data",
        labels.alias("_hl"),
        (F.col("data_ner") if provided_ner else null_s).alias("_dner"),
        (
            F.element_at(split_multivalue("row_heading_ner"), -1)
            if provided_ner
            else null_s
        ).alias("_rner"),
        (
            F.element_at(split_multivalue("column_heading_ner"), -1)
            if provided_ner
            else null_s
        ).alias("_cner"),
        split_multivalue("row_heading").alias("_rparts"),
        split_multivalue("column_heading").alias("_cparts"),
    )

    def _st(role: str, mention, hl, ner):
        return F.struct(
            F.lit(role).alias("col_role"),
            mention.alias("mention"),
            hl.alias("hl"),
            ner.alias("ner"),
        )

    structs = F.concat(
        F.array(_st(ROLE_DATA, F.col("data"), F.col("_hl"), F.col("_dner"))),
        F.transform(
            "_rparts", lambda p: _st(ROLE_ROW, p, empty, F.col("_rner"))
        ),
        F.transform(
            "_cparts", lambda p: _st(ROLE_COL, p, empty, F.col("_cner"))
        ),
    )
    exploded = (
        src.select("table_id", "row_idx", "col_idx", F.explode(structs).alias("m"))
        .select("table_id", "row_idx", "col_idx", "m.*")
        .filter(F.col("mention").rlike(_NONEMPTY_RE))
    )
    win = F.struct(F.col("hl"), F.col("ner"))
    hl_norm = F.filter(
        F.transform(F.col("_w.hl"), normalize_entry), lambda x: x != ""
    )
    return (
        exploded.groupBy("table_id", "col_role", "mention")
        .agg(F.max_by(win, F.struct("row_idx", "col_idx")).alias("_w"))
        .select(
            "table_id",
            "col_role",
            "mention",
            normalize_entry("mention").alias("mention_norm"),
            hl_norm.alias("heading_labels"),
            *([F.col("_w.ner").alias("ner")] if provided_ner else []),
        )
        # surrogate join key at mention grain — the hot downstream joins,
        # windows and groupBys cluster on this long instead of three strings
        # (see operators/features.py scale notes)
        .withColumn("mention_key", mention_skey())
    )


def entry_context(canonical: DataFrame, hashed: bool = True) -> DataFrame:
    """P12: (ctx_key, vhash, n) — multiset of neighbouring DATA values per
    DATA mention, aggregated to counts (n) so the downstream similarity join
    moves counts, not rows.  ``hashed=False`` keeps the raw
    (table_id, mention, ctx_value, n) shape (oracle compare).

    Reference getEntryContext (CanonicalTableAnnotator.php:632-681): a row
    matches if it shares a non-empty row_heading OR column_heading with a row
    holding the mention; each matching row contributes once per holder row.
    """
    # OR-join via inclusion-exclusion over per-heading value counts instead
    # of materializing row pairs and deduping on a wide key: the number of
    # (holder row, context row) pairs sharing heading h is the product of
    # the two rows-per-value counts at h, so
    #   n = Σ_rh cnt_l·cnt_r + Σ_ch cnt_l·cnt_r − Σ_(rh,ch) cnt_l·cnt_r
    # (the last term removes pairs matching on both headings, which the
    # reference's single `if` counts once).
    #
    # Plan shape: ONE grouping-sets aggregate computes the per-value counts
    # of all three heading key sets — Catalyst has no cross-operator CSE, so
    # a shared base aggregate re-read by three signed streams re-executed
    # the base shuffle once per stream (back-to-back sf0.1 A/B: ~3.6 s →
    # ~2.9 s, bit-identical output).  Catalyst still pushes each stream's
    # grouping-id filter below the aggregate, so the executed plan holds one
    # Expand + canonical scan per stream.  Per stream, the count table
    # pair-expands through a self-join on the (table, heading) group key:
    # both sides are the same frame, so the join's exchange is planned once
    # and reused, and no group is ever collected into one executor-side
    # array however many distinct values it holds.  (A collect_list +
    # double-explode path for small groups needs a group-size window, which
    # re-runs the count subplan per branch; it measured slower at 150, 1500
    # and 5000 pages.)  The three signed streams meet in a single final
    # aggregate, and every shuffle scales with distinct values, never rows².
    # Empty-heading groups ride through the aggregate and are dropped per
    # stream (they collapse map-side; filtering them pre-Expand would need a
    # per-set filter the operator doesn't have).
    counts_all = (
        canonical.select(
            "table_id", F.col("row_heading"), F.col("column_heading"), F.col("data")
        )
        .groupingSets(
            [
                ["table_id", "row_heading", "data"],
                ["table_id", "column_heading", "data"],
                ["table_id", "row_heading", "column_heading", "data"],
            ],
            "table_id",
            "row_heading",
            "column_heading",
            "data",
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.grouping("row_heading").alias("_g_rh"),
            F.grouping("column_heading").alias("_g_ch"),
        )
    )

    def _pair_contribs(keys: tuple[str, ...], sign: int) -> DataFrame:
        in_set = {
            "row_heading": F.col("_g_rh") == 0,
            "column_heading": F.col("_g_ch") == 0,
        }
        sel = (in_set["row_heading"] if "row_heading" in keys else ~in_set["row_heading"]) & (
            in_set["column_heading"] if "column_heading" in keys else ~in_set["column_heading"]
        )
        counts = counts_all.filter(sel)
        for k in keys:
            counts = counts.filter(F.col(k) != "")
        left = counts.select(
            "table_id", *keys, F.col("data").alias("mention"), F.col("c").alias("cl")
        )
        right = counts.select(
            "table_id", *keys, F.col("data").alias("ctx_value"), F.col("c").alias("cr")
        )
        return left.join(right, ["table_id", *keys]).select(
            "table_id",
            "mention",
            "ctx_value",
            (F.lit(sign) * F.col("cl") * F.col("cr")).alias("contrib"),
        )

    streams = (
        _pair_contribs(("row_heading",), 1)
        .unionByName(_pair_contribs(("column_heading",), 1))
        .unionByName(_pair_contribs(("row_heading", "column_heading"), -1))
    )
    if hashed:
        # hashed output shape: the overlap consumer (P14) compares values by
        # exact equality, so only hashes need to travel — and hashing BEFORE
        # the final aggregate means its exchange (the widest in P12: the
        # signed pair streams) moves two longs per row instead of raw cell
        # strings, and the map-side partial agg hashes longs, not strings.
        # Colliding ctx_values would merge here, but the P14 join keys on
        # vhash already, so Σ n·m is unchanged under any collision.
        return (
            streams.select(
                skey("table_id", "mention").alias("ctx_key"),
                skey("ctx_value").alias("vhash"),
                "contrib",
            )
            .groupBy("ctx_key", "vhash")
            .agg(F.sum("contrib").alias("n"))
            .filter(F.col("n") > 0)
        )
    return (
        streams.groupBy("table_id", "mention", "ctx_value")
        .agg(F.sum("contrib").alias("n"))
        .filter(F.col("n") > 0)
    )
