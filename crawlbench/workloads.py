"""The two timed jobs, composed the way ``tabbyld_spark.jobs`` composes its
``refresh`` and ``publish`` commands.

Program functions are looked up through their modules at call time, so the
traced run's wrappers (layers.py) see every call.  Each job returns the
number of catalog commits it made (its operations) and what the checks and
the trace need.
"""

from __future__ import annotations

import os

import tabbyld_spark.operators.urls as urls
import tabbyld_spark.plans.incremental as incremental
import tabbyld_spark.plans.kgpublish as kgpublish
from tabbyld_spark.sources.catalog import make_catalog

import inputs as I

# commits per round: cea, cta, cpa, triples / published triples, predicate
# stats, compaction
COMMITS = {"recrawl": 4, "publish": 3}


def _kg(spark, workdir: str) -> dict:
    return {t: spark.read.parquet(os.path.join(workdir, "kg", t)) for t in I.KG_TABLES}


def recrawl(spark, workdir: str, done: list) -> dict:
    old_pages = spark.read.parquet(os.path.join(workdir, "old_pages"))
    new_pages = spark.read.parquet(os.path.join(workdir, "pages"))
    kg = _kg(spark, workdir)
    catalog = make_catalog(spark, os.path.join(workdir, "catalog"))
    prev = {t: catalog.read(spark, t) for t in ("cea", "cta", "cpa")}
    # per-URL rows rather than jobs.py's per-status counts, so the check can
    # compare each URL; the same one job over the same diff
    delta = [(r["url"], r["status"]) for r in urls.crawl_diff(old_pages, new_pages).collect()]
    counts = {s: sum(1 for _, st in delta if st == s)
              for s in ("added", "removed", "changed", "unchanged")}
    cea, cta, cpa, triples = incremental.refresh_annotations(
        old_pages, new_pages, prev["cea"], prev["cta"], prev["cpa"], kg)
    for name, df in (("cea", cea), ("cta", cta), ("cpa", cpa), ("triples", triples)):
        catalog.write(df, name, lineage={"stage": "refresh", "delta": counts})
        done.append(name)
    n_new = counts["added"] + counts["changed"] + counts["unchanged"]
    return {"delta": delta,
            "redo_ratio": (counts["added"] + counts["changed"]) / n_new}


def publish(spark, workdir: str, done: list) -> dict:
    catalog = make_catalog(spark, os.path.join(workdir, "catalog"))
    triples = spark.read.parquet(os.path.join(workdir, "triples"))
    schema = {name: spark.read.parquet(os.path.join(workdir, "schema", name))
              for name in I.SCHEMA_COLS}
    p = I.PUBLISH
    res = kgpublish.publish_kg(
        spark, catalog, triples,
        subclass=schema["subclass"], subproperty=schema["subproperty"],
        domain=schema["domain"], range_=schema["range"],
        functional_preds=p["functional_preds"], entity_prefix=p["entity_prefix"],
        disjoint_pairs=p["disjoint_pairs"], entity_prefixes=p["entity_prefixes"],
    )
    done.extend([res.table, res.stats_table, "compact"])
    return {"derived_rows": res.n_derived, "stats_table": res.stats_table}


JOBS = {"recrawl": recrawl, "publish": publish}
SETUP = {"recrawl": I.recrawl_inputs, "publish": I.publish_inputs}
