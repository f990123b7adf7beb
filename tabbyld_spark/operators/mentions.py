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

Everything is exploded/joined/windowed native DataFrame ops; the "last row
wins" scans become one window per (table, value) instead of the reference's
O(rows²) loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tabbyld_spark.functions.keys import mention_skey, skey

from tabbyld_spark.functions.normalize import normalize_entry, split_multivalue

ROLE_DATA, ROLE_ROW, ROLE_COL = "DATA", "ROW", "COL"
_ROLE_COLUMN = {ROLE_ROW: "row_heading", ROLE_COL: "column_heading"}
MAX_GROUP_VALUES = 65536


def data_mentions(canonical: DataFrame, provided_ner: bool = False) -> DataFrame:
    """(table_id, col_role=DATA, mention, mention_norm[, ner], heading_labels)

    Last-row-wins is a ``max_by`` over (row_idx, col_idx) instead of a
    row_number window: hash aggregation partial-aggregates map-side (the
    shuffle moves one pre-reduced row per (table, value) per map task, never
    every holder row) and needs no per-partition sort — the scale win over
    the window at web row counts.  (row_idx, col_idx) is unique per table,
    so the winner is deterministic and identical to the former
    orderBy(desc, desc) row_number pick."""
    labels = F.concat(
        F.transform(split_multivalue("row_heading"), normalize_entry),
        F.transform(split_multivalue("column_heading"), normalize_entry),
    )
    win = F.struct(
        F.filter(labels, lambda x: x != "").alias("hl"),
        *([F.col("data_ner").alias("ner")] if provided_ner else []),
    )
    cols = [
        F.col("table_id"),
        F.lit(ROLE_DATA).alias("col_role"),
        F.col("data").alias("mention"),
        normalize_entry("data").alias("mention_norm"),
        F.col("_w.hl").alias("heading_labels"),
    ]
    if provided_ner:
        cols.append(F.col("_w.ner").alias("ner"))
    return (
        canonical.filter(
            (F.col("data") != "") & (normalize_entry("data") != "")
        )
        .groupBy("table_id", "data")
        .agg(F.max_by(win, F.struct("row_idx", "col_idx")).alias("_w"))
        .select(*cols)
    )


def heading_mentions(canonical: DataFrame, roles: tuple[str, ...] = (ROLE_ROW, ROLE_COL), provided_ner: bool = False) -> DataFrame:
    """(table_id, col_role, mention, mention_norm[, ner]) for the heading
    roles.  Both roles go through ONE window (keyed by the surrogate mention
    hash, which encodes the role) — one shuffle instead of two; at 200+
    stages per pipeline run, stage-count is itself a scaling cost.

    ``roles`` accepts a bare role string too (legacy call shape)."""
    if isinstance(roles, str):
        roles = (roles,)
    unknown = [r for r in roles if r not in _ROLE_COLUMN]
    if unknown:
        raise ValueError(
            f"unknown heading role(s) {unknown!r}; expected one of {sorted(_ROLE_COLUMN)}"
        )

    def _parts(role: str) -> DataFrame:
        col = _ROLE_COLUMN[role]
        return canonical.select(
            "table_id",
            "row_idx",
            "col_idx",
            F.lit(role).alias("col_role"),
            F.explode(split_multivalue(col)).alias("mention"),
            *(
                [F.element_at(split_multivalue(f"{col}_ner"), -1).alias("ner")]
                if provided_ner
                else []
            ),
        )

    parts = _parts(roles[0])
    for r in roles[1:]:
        parts = parts.unionByName(_parts(r))
    parts = parts.withColumn("mention_norm", normalize_entry("mention")).filter(
        F.col("mention_norm") != ""
    )
    # last-row-wins via max_by (partial-aggregating, sort-free — see
    # data_mentions); mention_norm is a function of the group key, so
    # first() is deterministic, and the row-position tiebreak only matters
    # when a per-row value (the NER label) is carried out of the group
    agg = [F.first("mention_norm").alias("mention_norm")]
    if provided_ner:
        agg.append(
            F.max_by(F.col("ner"), F.struct("row_idx", "col_idx")).alias("ner")
        )
    out_cols = ["table_id", "col_role", "mention", "mention_norm", "mention_key"] + (
        ["ner"] if provided_ner else []
    )
    return (
        parts.groupBy("table_id", "col_role", "mention")
        .agg(*agg)
        .withColumn("mention_key", mention_skey())
        .select(*out_cols)
    )


def all_mentions(canonical: DataFrame, provided_ner: bool = False) -> DataFrame:
    """All three roles in ONE canonical scan, one explode, one aggregate.

    Same rows as data_mentions ∪ heading_mentions (the per-role operators
    remain for standalone use), but the fused shape matters at scale: the
    checkpointed canonical blocks are the pipeline's widest materialization,
    and the union form re-reads them once per role (3× block traffic) and
    aggregates twice.  Here each row emits its DATA struct plus one struct
    per heading part, and a single groupBy(table_id, col_role, mention)
    max_by picks the last-row-wins winner for every role at once — the
    role is IN the group key, so winners are per (table, role, mention)
    exactly as before.  The normalize-based emptiness filter stays BEFORE the
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


def entry_context(
    canonical: DataFrame,
    hashed: bool = True,
    max_group_values: int = MAX_GROUP_VALUES,
) -> DataFrame:
    """P12: (ctx_key, vhash, n) — multiset of neighbouring DATA values per
    DATA mention, aggregated to counts (n) so the downstream similarity join
    moves counts, not rows.  ``hashed=False`` keeps the raw
    (table_id, mention, ctx_value, n) shape (oracle compare).

    Reference getEntryContext (CanonicalTableAnnotator.php:632-681): a row
    matches if it shares a non-empty row_heading OR column_heading with a row
    holding the mention; each matching row contributes once per holder row.

    ``max_group_values``: per-(table, heading) distinct-value cap for the
    in-expression pair expansion.  Groups above the cap route through an
    equivalent self-join — identical output, no single-executor array.
    """
    # OR-join via inclusion-exclusion over per-heading value-count arrays
    # instead of materializing row pairs and deduping on a wide key: the
    # number of (holder row, context row) pairs sharing heading h is the
    # product of the two rows-per-value counts at h, so
    #   n = Σ_rh cnt_l·cnt_r + Σ_ch cnt_l·cnt_r − Σ_(rh,ch) cnt_l·cnt_r
    # (the last term removes pairs matching on both headings, which the
    # reference's single `if` counts once).
    #
    # Plan shape: ONE grouping-sets aggregate computes the per-value counts
    # of all three heading key sets in a single canonical pass — Catalyst has
    # no cross-operator CSE, so the previous shape (a shared base aggregate
    # re-read by three signed streams) re-executed the full canonical scan +
    # base shuffle once per stream; the Expand triples rows BEFORE the
    # map-side partial aggregate, so the one exchange carries just the three
    # count tables (back-to-back sf0.1 A/B: ~3.6 s → ~2.9 s, bit-identical
    # output; at corpus scale it is 1 wide scan instead of 3).  Per stream, a
    # window over the (re-clustered) group computes the group's
    # distinct-value count; groups under the cap collect their (value, count)
    # structs and pair-expand with a double explode — no join — while
    # oversized groups (a pathological table where one heading value spans
    # millions of distinct DATA values would otherwise build one giant
    # executor-side array) take a self-join on the group key, which shuffles
    # but never materializes a group in memory.  The three signed streams
    # still meet in a single final aggregate, and every shuffle scales with
    # distinct values, never rows².  Empty-heading groups ride through the
    # aggregate and are dropped per stream (they collapse map-side; filtering
    # them pre-Expand would need a per-set filter the operator doesn't have).
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
        counts = counts_all.filter(sel).select("table_id", *keys, "data", "c")
        for k in keys:
            counts = counts.filter(F.col(k) != "")
        w = Window.partitionBy("table_id", *keys)
        counts = counts.withColumn("_nv", F.count(F.lit(1)).over(w))
        # small groups: in-expression pair expansion over (value, count)
        # structs — the window exchange already clusters on the group key, so
        # the collect groupBy adds no further shuffle
        grouped = (
            counts.filter(F.col("_nv") <= max_group_values)
            .groupBy("table_id", *keys)
            .agg(F.collect_list(F.struct(F.col("data").alias("v"), F.col("c"))).alias("vs"))
        )
        small = (
            grouped.select("table_id", F.explode("vs").alias("l"), "vs")
            .select(
                "table_id",
                F.col("l.v").alias("mention"),
                (F.lit(sign) * F.col("l.c")).alias("cl"),
                F.explode("vs").alias("r"),
            )
            .select(
                "table_id",
                "mention",
                F.col("r.v").alias("ctx_value"),
                (F.col("cl") * F.col("r.c")).alias("contrib"),
            )
        )
        # oversized groups: the same pair products via a co-partitioned
        # self-join (both sides ride the window's clustering)
        big = counts.filter(F.col("_nv") > max_group_values)
        left = big.select(
            "table_id", *keys, F.col("data").alias("mention"), F.col("c").alias("cl")
        )
        right = big.select(
            "table_id", *keys, F.col("data").alias("ctx_value"), F.col("c").alias("cr")
        )
        big_pairs = left.join(right, ["table_id", *keys]).select(
            "table_id",
            "mention",
            "ctx_value",
            (F.lit(sign) * F.col("cl") * F.col("cr")).alias("contrib"),
        )
        return small.unionByName(big_pairs)

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
