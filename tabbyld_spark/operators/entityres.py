"""Blocked entity resolution — attribute-overlap same_as edges.

The canonicalization stage (S7) merges duplicate entities with connected
components over ``same_as`` edges; ``operators/components.py:same_as_edges``
derives edges from mentions that LINK to the same KG entity.  A web-scale
KG build also needs the complementary source: entities that nobody linked
together but whose own descriptions agree — classic blocked entity
resolution (Fellegi–Sunter-style, deduplicated the Dedoop/Magellan way):

1. **block** — a cheap deterministic key (normalized name, sorted-token
   prefix, …) partitions the entity universe; only same-block entities can
   pair, so the quadratic blow-up is bounded per block.  Oversized blocks
   (stop-word-like names) are DROPPED by ``max_block`` before any pair is
   generated — the same df-cap skew guard as ``ngram_jaccard_pairs``; at
   web scale one "unknown"-named block would otherwise dominate the job.
2. **score** — attribute-set Jaccard via the inverted-index shape: explode
   attributes, equi-join on (block, attribute), count shared attributes per
   pair, divide by the union size.  Never an all-pairs cross join; the join
   key (block, attr) keeps skew bounded by the block cap.
3. **edge** — pairs at/above ``threshold`` become canonical (src < dst)
   ``same_as`` edges that feed straight into ``connected_components``.

Scale shape: one entity-grain aggregate (profiles), one block-grain count
(the cap), one (block, attr)-grain self-join whose output is bounded by
``max_block``² per block, one pair-grain count.  All native expressions;
the md5 attribute hashing is engine-portable so the DuckDB twin re-derives
scores bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "er_profiles",
    "blocked_same_as",
    "fuzzy_blocked_same_as",
    "resolve_entities",
]


def er_profiles(
    triples: DataFrame, name_pred: str, max_attrs: int = 10_000
) -> DataFrame:
    """(subj, pred, obj) triples → (entity, block, attrs) profiles.

    The blocking key is the normalized name (lower-cased, whitespace-
    collapsed object of ``name_pred``; entities without a name triple have
    no block and are dropped — nothing to block on).  Attributes are the
    distinct md5(pred|obj) hashes of every NON-name triple, capped at
    ``max_attrs`` per entity (a hub entity's million-edge description would
    otherwise ride the explode; slice keeps the deterministic sort-order
    prefix)."""
    names = (
        triples.filter(F.col("pred") == name_pred)
        .groupBy("subj")
        .agg(F.min(F.col("obj")).alias("name"))  # deterministic if multi-named
        .select(
            F.col("subj").alias("entity"),
            F.lower(F.regexp_replace(F.trim("name"), r"\s+", " ")).alias("block"),
        )
    )
    attrs = (
        triples.filter(F.col("pred") != name_pred)
        .groupBy("subj")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_set(F.md5(F.concat_ws("|", "pred", "obj")))
                ),
                1,
                max_attrs,
            ).alias("attrs")
        )
        .select(F.col("subj").alias("entity"), "attrs")
    )
    return names.join(attrs, "entity")


def blocked_same_as(
    profiles: DataFrame,
    threshold: float = 0.5,
    max_block: int = 1000,
    id_col: str = "entity",
    block_col: str = "block",
    attrs_col: str = "attrs",
    verify_arrays_max: int = 64,
) -> DataFrame:
    """(entity, block, attrs:array<string>) profiles → (src, dst, jaccard)
    same_as edges for pairs with attribute-set Jaccard ≥ ``threshold``.

    Blocks larger than ``max_block`` are dropped before pair generation
    (skew guard — a web-scale "no-name" block would dominate the join);
    pairs are canonical (src < dst), each emitted once.

    Count-gated hybrid on the VERIFY shape: when the widest attribute set
    fits ``verify_arrays_max`` (one max action), candidates come from a
    PPJoin-style prefix filter — each entity indexes only its
    ``sz − ⌈t·sz⌉ + 1`` globally-RAREST attributes (frequency-ascending
    total order; lossless for Jaccard ≥ t, Bayardo et al. 2007 / Vernica
    et al. 2010), so pairs that agree only on flood-prone low-selectivity
    attributes are never enumerated (9× fewer candidates on the sf0.1
    fixture), and each candidate verifies in-expression via
    ``array_intersect`` of the two (small) arrays — no pair-grain
    aggregate at all, and the final distinct exchanges only
    (src, dst, jaccard).  Wider profiles (hub descriptions up to
    ``er_profiles``' 10k cap) take the inverted-index count instead,
    where attr arrays never ride any exchange."""
    ents = profiles.select(
        F.col(id_col).alias("entity"),
        F.col(block_col).alias("block"),
        F.array_distinct(F.col(attrs_col)).alias("attrs"),
    ).filter(F.size("attrs") > 0)
    # block cap via aggregate + broadcast join-back (NOT a window: a window
    # would exchange the full profiles — attr arrays included — on the
    # block key; the tiny block-size table broadcasts instead, so the
    # profile rows never shuffle for the cap)
    block_sizes = ents.groupBy("block").agg(F.count(F.lit(1)).alias("bn"))
    kept = ents.join(
        F.broadcast(block_sizes.filter(F.col("bn") <= max_block).select("block")),
        "block",
    )
    max_sz = kept.agg(F.max(F.size("attrs"))).first()[0] or 0
    if max_sz <= int(verify_arrays_max):
        return _prefix_filtered_pairs(kept, threshold)
    # the inverted index carries each entity's SCALAR attr count: the pair
    # aggregate then reads sz_a/sz_b off its own exchange (max over a
    # per-entity constant), replacing the two pair-grain size join-backs
    # the previous shape paid — two fewer exchanges of the pair table,
    # and the attr ARRAYS still never ride a pair exchange
    inv = kept.select(
        "entity", "block", F.size("attrs").alias("sz"), F.explode("attrs").alias("attr")
    )
    a = inv.select(
        F.col("entity").alias("src"), "block", "attr", F.col("sz").alias("sz_a")
    )
    b = inv.select(
        F.col("entity").alias("dst"), "block", "attr", F.col("sz").alias("sz_b")
    )
    inter = (
        a.join(b, ["block", "attr"])
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.max("sz_a").alias("sz_a"),
            F.max("sz_b").alias("sz_b"),
        )
    )
    return (
        inter.select(
            "src",
            "dst",
            (F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
    )


def _prefix_filtered_pairs(kept: DataFrame, threshold: float) -> DataFrame:
    """(entity, block, attrs) capped profiles → (src, dst, jaccard ≥ t)
    via the PPJoin prefix filter, small-array regime (see
    :func:`blocked_same_as`).

    A global total order sorts every attribute vocabulary by (corpus
    frequency ASC, attr ASC); each entity indexes only the first
    ``sz − ⌈t·sz⌉ + 1`` of its attrs under that order.  Two sets with
    Jaccard ≥ t must share an indexed attr (prefix-filter lemma), so the
    (block, attr) equi-join over PREFIXES generates every qualifying pair
    — rarest-first ordering makes the surviving join keys the most
    selective ones.  Verification is one in-expression ``array_intersect``
    per candidate (arrays ride the entity-grain index rows, never a
    pair-grain exchange); band-style duplicate candidates collapse in the
    final distinct, which exchanges only (src, dst, jaccard)."""
    inv = kept.select("entity", "block", F.explode("attrs").alias("attr"))
    freqs = inv.groupBy("attr").agg(F.count(F.lit(1)).alias("_f"))
    ordered = (
        inv.join(freqs, "attr")
        .groupBy("entity", "block")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_f", "attr"))),
                lambda s: s["attr"],
            ).alias("attrs")
        )
    )
    sz = F.size("attrs")
    # round before the ceiling: float noise (0.56 * 25 = 14.000000000000002)
    # must never shorten the prefix, or qualifying pairs are lost; rounding
    # can only lengthen it, which costs candidates, never recall
    plen = (
        sz
        - F.ceil(F.round(F.lit(float(threshold)) * sz, 9)).cast("int")
        + F.lit(1)
    )
    idx = ordered.select(
        "entity",
        "block",
        "attrs",
        F.explode(F.slice("attrs", F.lit(1), plen)).alias("attr"),
    )
    a = idx.select(
        F.col("entity").alias("src"), "block", "attr", F.col("attrs").alias("aa")
    )
    b = idx.select(
        F.col("entity").alias("dst"), "block", "attr", F.col("attrs").alias("ab")
    )
    i = F.size(F.array_intersect("aa", "ab"))
    return (
        a.join(b, ["block", "attr"])
        .filter(F.col("src") < F.col("dst"))
        .select(
            "src",
            "dst",
            (i / (F.size("aa") + F.size("ab") - i)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
        .distinct()
    )


def fuzzy_blocked_same_as(
    profiles: DataFrame,
    threshold: float = 0.5,
    num_bands: int = 6,
    max_bucket: int = 1000,
    name_jaccard_min: float = 0.5,
    id_col: str = "entity",
    block_col: str = "block",
    attrs_col: str = "attrs",
) -> DataFrame:
    """Typo-tolerant variant of :func:`blocked_same_as`: instead of exact
    block-key equality, candidate pairs come from MinHash band collisions
    over the block string (the same seeded-xxhash64 2-gram bands as
    ``operators/fuzzy.py`` — "Acme Corp" and "Acme Corpp" now land in a
    shared bucket).  Precision is restored by two exact rescores on the
    bucketed shortlist: char-2-gram Jaccard of the names at/above
    ``name_jaccard_min``, then the usual attribute-set Jaccard at/above
    ``threshold``.

    Scale shape: ``num_bands`` rows per entity into the (band, sig)
    equi-join; buckets over ``max_bucket`` entities are dropped before
    pair generation (the same skew guard as the exact path — a
    stop-word-ish name floods its buckets).  Pairs carry the two gram/attr
    arrays through ONE join each for the in-expression intersects — per
    pair, never per corpus, and bounded by the bucket cap."""
    from tabbyld_spark.operators.fuzzy import _shingle

    ents = profiles.select(
        F.col(id_col).alias("entity"),
        F.col(block_col).alias("block"),
        F.array_distinct(F.col(attrs_col)).alias("attrs"),
    ).filter((F.size("attrs") > 0) & (F.col("block") != ""))
    # same seeded-xxhash64 band construction as fuzzy._band_rows, with the
    # entity id carried through (the shared helper drops non-key columns)
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(
                    f"array_min(transform(_grams, g -> xxhash64(g, {i})))"
                ).alias("sig"),
            )
            for i in range(int(num_bands))
        ]
    )
    banded = (
        _shingle(ents.select("entity", "block"), "block")
        .withColumn("_b", F.explode(bands))
        .select(
            "entity",
            "block",
            "_grams",
            F.col("_b.band").alias("band"),
            F.col("_b.sig").alias("sig"),
        )
    )
    bucket_sizes = banded.groupBy("band", "sig").agg(
        F.count(F.lit(1)).alias("bn")
    )
    kept = banded.join(
        bucket_sizes.filter(F.col("bn") <= max_bucket).select("band", "sig"),
        ["band", "sig"],
    )
    a = kept.select(
        "band", "sig", F.col("entity").alias("src"), F.col("_grams").alias("ga")
    )
    b = kept.select(
        "band", "sig", F.col("entity").alias("dst"), F.col("_grams").alias("gb")
    )
    pairs = (
        a.join(b, ["band", "sig"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "ga", "gb")
        .dropDuplicates(["src", "dst"])  # a pair colliding in k bands: once
    )
    name_i = F.size(F.array_intersect("ga", "gb"))
    name_j = name_i / (F.size("ga") + F.size("gb") - name_i)
    named = pairs.filter(name_j >= F.lit(float(name_jaccard_min))).select(
        "src", "dst"
    )
    pa = ents.select(F.col("entity").alias("src"), F.col("attrs").alias("aa"))
    pb = ents.select(F.col("entity").alias("dst"), F.col("attrs").alias("ab"))
    i = F.size(F.array_intersect("aa", "ab"))
    return (
        named.join(pa, "src")
        .join(pb, "dst")
        .select(
            "src",
            "dst",
            (i / (F.size("aa") + F.size("ab") - i)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(float(threshold)))
    )


def resolve_entities(
    triples: DataFrame,
    name_pred: str,
    threshold: float = 0.5,
    max_block: int = 1000,
) -> DataFrame:
    """triples → (node, component) canonical-entity labels: profile, block,
    score, threshold, then connected components over the resulting
    same_as edges (the full S7 merge for description-level duplicates)."""
    from tabbyld_spark.operators.components import connected_components

    edges = blocked_same_as(
        er_profiles(triples, name_pred), threshold=threshold, max_block=max_block
    ).select("src", "dst")
    return connected_components(edges)
