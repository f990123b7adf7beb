#!/usr/bin/env python
"""Physical-plan hygiene audit — asserts the plans are the ones we'd want at
100x scale, not just ones that pass:

  * parquet scans carry PushedFilters + pruned ReadSchema (no full-width scan
    behind a 2-column projection)
  * the KG dimension joins execute as BroadcastHashJoin (the size-gated hint
    survived), fact-fact joins as SortMerge/ShuffledHash
  * the only Python in any plan is Arrow-batched (ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas) — no row-at-a-time BatchEvalPython
  * WholeStageCodegen spans cover the expression pipeline

Prints one PASS/FAIL line per check + the evidence; exits non-zero on FAIL.
Also wired into pytest (tests/test_plan_audit.py) so a plan regression fails
CI, not just a manual run.
Usage: python tools/plan_audit.py
"""

from __future__ import annotations

import sys
from collections import Counter

sys.path.insert(0, ".")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def run_audit(spark, sf: str = "/root/testdata/sf0.01") -> list[tuple[str, bool, str]]:
    """All checks against an existing session → [(name, ok, evidence)]."""
    import __spark_entry__ as E
    from tabbyld_spark.fixtures.kg import build_kg
    from tabbyld_spark.fixtures.pages import gen_pages_pd
    from tabbyld_spark.plans.pipeline import annotate_canonical

    results: list[tuple[str, bool, str]] = []

    def check(name: str, ok: bool, evidence: str) -> None:
        results.append((name, bool(ok), evidence))

    # 1. predicate pushdown + column pruning on the parquet scan (the
    # retired q_filter_project's exact shape, audited directly)
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    fp = li.filter(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_discount") > 0.05)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
            "net_price"
        ),
    )
    p = plan_of(fp)
    check(
        "pushdown/filter_project",
        "PushedFilters: [" in p and "IsNotNull" in p.split("PushedFilters:")[1][:200],
        "PushedFilters present",
    )
    read_schema = p.split("ReadSchema:")[1].split("\n")[0] if "ReadSchema:" in p else ""
    check(
        "pruning/filter_project",
        "l_comment" not in read_schema and "l_orderkey" in read_schema,
        f"ReadSchema={read_schema.strip()[:120]}",
    )

    # 1b. BGP pattern constants reach the triples scan as pushed filters,
    # and the selective in_region pattern side broadcasts (AQE or static)
    p = plan_of(E.q_kg_pattern(spark, sf))
    check(
        "pushdown/q_kg_pattern",
        p.count("PushedFilters: [") >= 1
        and ("EqualTo(pred," in p or "isnotnull" in p.lower()),
        "pattern constants in scan filters",
    )

    # 1c. entity-res pair dedup/scoring stays at id grain: the inverted-index
    # join carries (block, attr, entity) — attribute ARRAYS never ride the
    # pair-grain exchange
    p = plan_of(E.q_entity_res(spark, sf))
    check(
        "shape/q_entity_res",
        "attrs" not in p.split("Exchange hashpartitioning(src")[-1][:400]
        if "Exchange hashpartitioning(src" in p
        else True,
        "pair exchanges carry ids, not attr arrays",
    )

    # 1d. DSIR scoring joins the bucket model as a broadcast (never a
    # shuffled join against the tiny dense bucket table)
    from tabbyld_spark.operators.importance import (
        fit_importance_model,
        importance_weights,
    )

    docs_df = spark.read.parquet(f"{sf}/documents.parquet")
    model = fit_importance_model(
        docs_df.filter(F.col("doc_id") % 7 == 0), docs_df, n_buckets=512
    )
    p = plan_of(importance_weights(docs_df, model))
    check(
        "broadcast/dsir_score",
        "BroadcastHashJoin" in p,
        f"{p.count('BroadcastHashJoin')} broadcast joins in scoring plan",
    )

    # 1e. RDFS entailment: both ontology lookups (the pred-keyed rule table
    # and SC*) broadcast — the corpus never shuffles for reasoning, no
    # sort-merge anywhere in the rule pass
    p = plan_of(E.q_rdfs_entail(spark, sf))
    check(
        "broadcast/rdfs_entail",
        "SortMergeJoin" not in p and p.count("BroadcastHashJoin") >= 2,
        f"{p.count('BroadcastHashJoin')} broadcast joins, no sort-merge",
    )
    # ...and the pass is one compiled plan over all four schema frames: each
    # lookup is broadcast once (not once per rule branch that reads it) and
    # the only hash exchange is the aggregate that drops restated triples
    heads = [ln.lstrip(" :+-*()0123456789") for ln in p.splitlines()]
    broadcasts = sum(h.startswith("BroadcastExchange") for h in heads)
    hashed = sum(h.startswith("Exchange hashpartitioning") for h in heads)
    check(
        "shape/rdfs_entailment",
        broadcasts <= 2 and hashed == 1,
        f"{broadcasts} BroadcastExchange, {hashed} hash Exchange",
    )

    # 1f. sessionization: ONE exchange (the user-grain session aggregate)
    p = plan_of(E.q_sessions(spark, sf))
    check(
        "one-shuffle/sessions",
        p.count("Exchange") <= 2,  # partial+final agg may plan 2 under AQE
        f"{p.count('Exchange')} exchanges in the session plan",
    )

    # 2. dimension joins broadcast (at sf0.01 even orders/customer fit under
    # the threshold, so we only require the nation/region dims broadcast —
    # Catalyst promoting more is correct, not a failure)
    p = plan_of(E.q_join_multi(spark, sf))
    check(
        "broadcast/q_join_multi",
        p.count("BroadcastHashJoin") >= 2,
        f"{p.count('BroadcastHashJoin')} broadcast joins",
    )

    # 3. candidate generation: gazetteer + surface-form dictionary broadcast
    # (the size-gate kept the hint despite the aggregate's non-credible
    # stats).  Audited on the PRE-checkpoint chain — a localCheckpoint'd
    # frame's plan is just the checkpoint scan and would hide the joins.
    from tabbyld_spark.functions.ner import attach_ner, build_gazetteer
    from tabbyld_spark.operators.candidates import exact_candidates, with_levenshtein
    from tabbyld_spark.operators.mentions import all_mentions, entry_context

    kg = build_kg(seed=42)
    fx = gen_pages_pd(kg, n_pages=10, seed=42)
    canonical = spark.createDataFrame(fx.canonical)
    kgs = kg.to_spark(spark)
    gaz = build_gazetteer(kgs["kg_labels"], kgs["kg_types"], kgs["kg_subclass"])
    cands = with_levenshtein(
        exact_candidates(attach_ner(all_mentions(canonical), gaz), kgs["kg_labels"])
    )
    p = plan_of(cands)
    check(
        "broadcast/candidate-dictionary",
        p.count("BroadcastHashJoin") >= 2,
        f"{p.count('BroadcastHashJoin')} broadcast joins (gazetteer + label dict)",
    )
    check(
        "no-row-python/candidates",
        "BatchEvalPython" not in p,
        "no row-at-a-time Python UDF in the candidate plan",
    )
    # codegen spans print as "*(n) Operator" in the executed-plan string
    check(
        "codegen/candidates",
        "*(" in p,
        f"{sum(1 for ln in p.splitlines() if '*(' in ln)} operators inside codegen spans",
    )
    # 3b. P12 entry context pair-expands every (table, heading) group through
    # the self-join alone: no group-size Window and no collect_list + explode
    # Generate anywhere in its plan
    p = plan_of(entry_context(canonical))
    nodes = Counter(
        ln.lstrip(" :+-*()0123456789").split(" ")[0] for ln in p.splitlines()
    )
    check(
        "shape/entry_context",
        nodes["Window"] == 0 and nodes["Generate"] == 0,
        f"{nodes['Window']} Window and {nodes['Generate']} Generate nodes",
    )
    # end-to-end sanity on the same fixture (checkpointed result still runs)
    res = annotate_canonical(canonical, kgs, provided_ner=True, fuzzy_enabled=False)
    check("pipeline-runs", res.cea.count() > 0, "CEA non-empty")

    # 4. the one pandas UDF path is Arrow-batched
    from tabbyld_spark.extract.html import extract_pages

    pages = spark.createDataFrame(fx.pages)
    p = plan_of(extract_pages(pages))
    arrow = ("ArrowEvalPython" in p) or ("MapInPandas" in p) or ("EvalPython" in p and "Batch" not in p)
    check(
        "arrow-only/extract",
        arrow and "BatchEvalPython" not in p,
        "extraction runs through the Arrow batch evaluator",
    )

    # 5. gold-ingest readers: the tiny gold CSV side must be the broadcast
    # build against the corpus-derived heading map (a shuffle join here
    # would move the whole canonical aggregate for a KB-sized gold file)
    from tabbyld_spark.fixtures.gold_fixture import ensure_gold_fixture
    from tabbyld_spark.sources.gold import read_gold_cpa, read_gold_cta

    gd = ensure_gold_fixture()
    canon_fx = spark.createDataFrame(fx.canonical)
    for nm, fn, csv in (
        ("gold-cta", read_gold_cta, "cta_gt.csv"),
        ("gold-cpa", read_gold_cpa, "cpa_gt.csv"),
    ):
        p = plan_of(fn(spark, f"{gd}/{csv}", canon_fx))
        check(
            f"broadcast/{nm}",
            "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
            "gold side broadcasts; no sort-merge in the reader plan",
        )

    # 6. winnow overlap pairs: pure JVM expressions (zero Python evaluators)
    # and inverted-index equi-joins only — an all-pairs plan (cartesian /
    # nested-loop) here means the max_df skew guard or the fp key got lost
    from tabbyld_spark.operators.textstats import winnow_overlap_pairs

    docs = spark.createDataFrame(
        [(i, f"document number {i} shares this common boilerplate run") for i in range(20)],
        "doc_id long, text string",
    )
    p = plan_of(winnow_overlap_pairs(docs))
    check(
        "jvm-only/winnow-pairs",
        "EvalPython" not in p and "MapInPandas" not in p,
        "no Python evaluator anywhere in the overlap plan",
    )
    check(
        "no-all-pairs/winnow-pairs",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
        "fp equi-join only; no cartesian/nested-loop operator",
    )

    # 7. IVF centroid assignment stays in-expression: the ONLY exchanges in
    # the assignment subtree are the single-row codebook broadcasts — a hash
    # exchange per Lloyd iteration means the crossJoin+window argmin shape
    # crept back (|corpus| × n_centroids rows shuffled per iteration at scale)
    from tabbyld_spark.operators.similarity import _assign_centroid

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").limit(200)
    cents = emb.selectExpr("vec_id as centroid", "embedding as c_vec").limit(4)
    p = plan_of(_assign_centroid(emb.selectExpr("vec_id", "embedding"), cents, "embedding"))
    check(
        "no-shuffle/ivf-assign",
        "Exchange hashpartitioning" not in p and "Window" not in p,
        "centroid argmax is in-expression; no hash exchange or window in the assignment subtree",
    )

    # 8. CTA/CPA vote gating: with an exact (small) CEA count the winner side
    # broadcasts, so the wide canonical cell scan never sorts/shuffles for the
    # vote join; with a count over the cap the gate must fall back to
    # sort-merge (force-broadcasting an oversized frame is the driver-OOM
    # case the gate exists to prevent)
    from tabbyld_spark.operators.aggregate import cta_vote

    p = plan_of(cta_vote(res.cea, canonical, kgs["kg_types"], cea_rows=100))
    check(
        "broadcast/cta-vote-gated",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
        "small exact CEA count ⇒ winner side broadcasts, no sort-merge",
    )
    p = plan_of(cta_vote(res.cea, canonical, kgs["kg_types"], cea_rows=10**9))
    check(
        "merge-fallback/cta-vote-gated",
        "SortMergeJoin" in p,
        "oversized exact CEA count ⇒ winners demote to sort-merge, not broadcast",
    )

    # 9. decontamination probes the broadcast benchmark-gram set — corpus
    # grams must never hit a sort-merge join (the corpus side is the TB side;
    # only the tiny benchmark distinct and the doc_id-grain hit count shuffle)
    p = plan_of(E.q_decontam(spark, sf))
    check(
        "broadcast/decontam",
        "SortMergeJoin" not in p and "BroadcastHashJoin" in p,
        "benchmark gram set broadcasts; corpus grams never shuffled",
    )

    # 10. composed prep chain + per-source curation rollup: pure JVM
    # expressions end-to-end and equi-joins only (the rollup join-back is
    # size-gated — broadcast OR shuffle is acceptable; an all-pairs operator
    # is not), and the doc text never travels through the rollup exchanges
    # (the survivors projection drops it before source-grain aggregation)
    p = plan_of(E.q_dataprep(spark, sf))
    check(
        "jvm-only/dataprep",
        "EvalPython" not in p and "MapInPandas" not in p,
        "no Python evaluator anywhere in the prep-chain plan",
    )
    check(
        "no-all-pairs/dataprep",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
        "doc_id/source equi-joins only; no cartesian/nested-loop operator",
    )

    # 11. webtext prep operators: URL blocklist broadcasts (a blocklist is
    # KBs; a shuffle join here moves the whole corpus's URL column for a
    # dictionary), line dedup and chunking stay JVM-side with equi-joins only
    from pyspark.sql import functions as F

    from tabbyld_spark.operators.chunking import chunk_documents
    from tabbyld_spark.operators.dedup import line_dedup
    from tabbyld_spark.operators.webfilter import url_filter

    docs_sf = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    urls = docs_sf.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 50).cast("string"),
                 F.lit(".example.com/p")).alias("url")
    )
    bl = spark.createDataFrame([("h7.example.com",)], ["domain"])
    p = plan_of(url_filter(urls, bl))
    check(
        "broadcast/url-filter",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
        "blocklist broadcasts against the exploded host suffixes",
    )
    p = plan_of(line_dedup(docs_sf))
    check(
        "jvm-only/line-dedup",
        "EvalPython" not in p and "MapInPandas" not in p
        and "CartesianProduct" not in p,
        "winner aggregation + join-back, no Python, no all-pairs",
    )
    p = plan_of(chunk_documents(docs_sf))
    check(
        "no-shuffle/chunking",
        "Exchange" not in p and "EvalPython" not in p,
        "chunk extraction is projection + generate only — zero exchanges",
    )
    return results


def main() -> int:
    from tabbyld_spark.session import get_spark

    spark = get_spark("plan-audit", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    ok = True
    for name, passed, evidence in run_audit(spark):
        print(f"{'PASS' if passed else 'FAIL'} {name}: {evidence}")
        ok &= passed
    print("AUDIT", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
