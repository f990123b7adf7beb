"""Connected components over same_as edges — entity canonicalization (S7).

The reference has no canonicalization (nearest analogue: candidate dedup,
/root/reference/commands/SpreadsheetController.php:100-103); BASELINE.json
north_star requires GraphFrames-style connected components over a salted,
skew-aware self-join.  Implemented as plain DataFrame large-star/small-star
(hash-min label propagation): no extra jars, O(log n) rounds.

Skew handling: the hash-min join keys on current labels; a giant component's
label becomes a hot key.  Three guards: (1) explicit salting of the
propagation join (``salt`` parameter — label side replicated, edge side
bucketed by a hash of the other endpoint), (2) the groupBy(min) reduction is
map-side partial-aggregated, capping per-key reducer fan-in, (3) AQE
skew-join splitting when enabled (SPARK_GRAFT_AQE=true — recommended on a
real skewed-web-graph cluster).  Lineage cut with localCheckpoint every
round (iterative-loop requirement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from tabbyld_spark.functions.lineage import cut


def contract_edges(edges: DataFrame) -> DataFrame:
    """Per-Arrow-batch union-find contraction: each batch's edges are
    replaced by that batch's star spanning forest (component-min node →
    member node).  Replacing any edge subset by a spanning forest of the
    same subset preserves global connectivity, so the hash-min loop on the
    contracted set is exact — but the set it shuffles shrinks from |E| to
    at most |V(batch)| − #components per batch, usually orders of magnitude
    at web scale (and union-by-min keeps chains flat, so the loop also
    starts one hop from converged on locally-complete components).  Arrow
    mapInPandas, no driver involvement; union-find is near-linear per
    batch."""

    # Output schema mirrors the input's (src, dst) field types so non-string
    # node ids (e.g. int64 page ids) survive the Arrow round-trip instead of
    # silently coercing; union-by-min below only needs ids to be orderable.
    fields = {f.name: f.dataType for f in edges.schema.fields}
    out_schema = (
        f"src {fields['src'].simpleString()}, dst {fields['dst'].simpleString()}"
    )

    def forest(batches):
        import pandas as pd

        for pdf in batches:
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:
                    parent[x], x = root, parent[x]
                return root

            for s, d in zip(pdf["src"], pdf["dst"]):
                rs, rd = find(s), find(d)
                if rs != rd:
                    # union by MIN: the surviving root is the smallest id,
                    # so emitted stars already point at the local component
                    # minimum
                    if rs < rd:
                        parent[rd] = rs
                    else:
                        parent[rs] = rd
            nodes = set(pdf["src"]) | set(pdf["dst"])
            rows = [(find(n), n) for n in nodes]
            yield pd.DataFrame(
                [(r, n) for r, n in rows if r != n], columns=["src", "dst"]
            )

    return edges.mapInPandas(forest, out_schema)


def connected_components(
    edges: DataFrame, max_iters: int = 25, salt: int = 1
) -> DataFrame:
    """edges(src, dst) undirected → (node, component) with component = min
    node id (lexicographic) of the component.

    ``salt`` > 1 splits each hot join key across ``salt`` shuffle partitions
    (north rule: salted, skew-aware self-join): the label side replicates
    ``salt`` ways and each edge picks one replica by a hash of its OTHER
    endpoint, so a celebrity node's million edges spread over ``salt``
    reducers instead of one.  salt=1 keeps the plain equi-join (fixture
    scale); the result is identical for any salt.

    Exchange discipline in the loop: the edge set is the BIG, loop-invariant
    side, so it is hash-partitioned by its join key ONCE before the loop (the
    partitioning survives the checkpoint) — each iteration then shuffles only
    the label side.  When the graph is small enough (exact node count, known
    after the first materialization) the label side broadcasts instead and
    the propagation join runs with no per-iteration shuffle at all."""
    # Phase 1: batch-local union-find contraction (see contract_edges) —
    # the loop below never sees the raw edge volume.  Direction is
    # irrelevant to union-find, so contraction runs BEFORE symmetrization
    # (half the Arrow transfer) and the forest is symmetrized instead.
    forest = contract_edges(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    ).transform(cut)
    # Loop shuffle width sized to the CONTRACTED volume (the checkpoint
    # makes the count a cheap in-memory scan): a web-scale run keeps the
    # session width, a small graph collapses to a few partitions so
    # per-task/per-stage overhead doesn't dominate the O(log n) rounds —
    # the upstream edge frame arrives at whatever width the caller's plan
    # chose, and every loop stage would re-pay that map-task count
    # otherwise (see loop_shuffle_width for the AQE interaction).
    from tabbyld_spark.functions.joins import loop_shuffle_width

    with loop_shuffle_width(edges.sparkSession, forest.count()) as width:
        sym = forest.unionByName(
            forest.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        if width < sym.rdd.getNumPartitions():
            sym = sym.coalesce(width)  # narrow, no shuffle
        # _salt is a pure function of src — loop-invariant, so it rides in
        # the pre-loop partitioning instead of being recomputed per iteration
        join_key = ["dst"]
        if salt > 1:
            sym = sym.withColumn(
                "_salt", F.pmod(F.xxhash64("src"), F.lit(salt))
            )
            join_key = ["dst", "_salt"]
        sym = sym.transform(cut)
        return _hash_min_body(sym, join_key, salt, max_iters)


def _hash_min_body(sym, join_key, salt, max_iters) -> DataFrame:
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .transform(cut)
    )
    # broadcast-vs-shuffle decision for the label side: the checkpoint
    # propagates plan stats, so the driver-only estimate usually suffices
    # (no job); a non-credible estimate falls back to one exact count
    from tabbyld_spark.functions.joins import (
        _CREDIBLE_MAX,
        COUNT_BROADCAST_MAX,
        plan_size_estimate,
    )

    try:
        est = plan_size_estimate(labels)
    except Exception:
        est = -1
    if not (0 <= est <= _CREDIBLE_MAX):
        # strings in both columns: budget generously per row
        est = labels.count() * 256
    big_graph = est * salt > COUNT_BROADCAST_MAX
    if big_graph:
        # big-graph path: the label side will shuffle every round, so pay ONE
        # up-front exchange to co-partition the loop-invariant edge side on
        # the join key (survives the checkpoint) — iterations then shuffle
        # labels only, never the edges.  Skipped on the small-graph path,
        # where Catalyst already broadcast-joins the label side from the
        # checkpoint-propagated stats and the exchange is pure cost (a
        # per-iteration forced-broadcast hint was also measured SLOWER there:
        # each hint rebuilds the broadcast through the driver, ~0.2s/round).
        sym = sym.repartition(*join_key).transform(cut)
    for _ in range(max_iters):
        # propagate: each node adopts min(label of self, labels of neighbours)
        if salt > 1:
            lab_rep = labels.withColumnRenamed("node", "dst").withColumn(
                "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
            )
        else:
            lab_rep = labels.withColumnRenamed("node", "dst")
        if big_graph:
            lab_rep = lab_rep.hint("merge")
        nbr = sym.join(lab_rep, join_key).select(
            F.col("src").alias("node"), "component", F.lit(0).alias("_self")
        )
        # one shuffle computes BOTH the new label and the convergence signal:
        # the old label rides the union as the _self-tagged row, and an
        # Observation counts changed nodes during the same job that
        # materializes the checkpoint — no separate join+count action per
        # round (that second job dominated wall time on small graphs)
        obs = Observation()
        new_labels = (
            labels.withColumn("_self", F.lit(1))
            .unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(
                    F.when(F.col("_self") == 1, F.col("component"))
                ).alias("_old"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("component") != F.col("_old")).cast("long")
                ).alias("changed"),
            )
            .select("node", "component")
            .transform(cut)
        )
        labels = new_labels
        if (obs.get["changed"] or 0) == 0:
            break
    return labels


def same_as_edges(cea: DataFrame) -> DataFrame:
    """Mentions linked to the same entity are the same thing: cell-level
    same_as edges via the shared winning entity (min cell URI per entity acts
    as hub — star topology, no quadratic pair expansion)."""
    cells = cea.select(
        F.concat_ws("#", "table_id", "col_role", "mention_norm").alias("cell"),
        "entity",
    )
    hubs = cells.groupBy("entity").agg(F.min("cell").alias("hub"))
    return (
        cells.join(hubs, "entity")
        .filter(F.col("cell") != F.col("hub"))
        .select(F.col("hub").alias("src"), F.col("cell").alias("dst"))
    )
