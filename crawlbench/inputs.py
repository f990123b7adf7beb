"""Seeded benchmark inputs: crawl snapshots, their gold, the recrawl delta and
the gold-derived base catalog.  Everything here is a pure function of the
seed; nothing runs Spark, so the job that follows starts cold.

Make-up (see README.md):

* a snapshot is ``n`` pages from ``tabbyld_spark.fixtures.pages`` at the
  seed, over the fixture KG built at ``KG_SEED``;
* a recrawl removes ``REMOVED`` of ``PAGES`` base pages, regenerates
  ``CHANGED`` of them from another seed (same URL, new content) and adds
  ``ADDED`` new pages after the last base page id;
* a publish input is the triples of ``PUBLISH_PAGES`` pages, emitted from the
  generator's gold in the layout ``run_pipeline_resumable`` commits.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tabbyld_spark.fixtures.kg import DBR, build_kg
from tabbyld_spark.fixtures.pages import gen_pages_pd
from tabbyld_spark.functions.normalize import normalize_entry_py

import checks
from checks import NS, P_CEA, P_CPA, P_CTA, url_of

PAGES = 1500
PUBLISH_PAGES = 500
KG_SEED = 42
REMOVED, CHANGED, ADDED = 0.03, 0.05, 0.04
PAGE_FILES = 8  # the file count `jobs.py synth-pages` writes at 4-8 cores
# base rows carry values the pipeline never emits (its ranks are positive,
# its votes at least 1), so a base row that survives a refresh is visible
BASE_AGG_RANK = -1.0
BASE_VOTES = 0

# publish schema over the pipeline's own predicates: every rule of the
# entailment pass derives triples and every gate check has something to test
PUBLISH = {
    "subproperty": [(P_CEA, NS + "annotation"), (P_CTA, NS + "annotation"),
                    (P_CPA, NS + "annotation")],
    "domain": [(P_CEA, NS + "Cell"), (P_CTA, NS + "Column"),
               (P_CPA, NS + "ColumnPair")],
    "range": [(P_CEA, NS + "Entity")],
    "subclass": [(NS + "Cell", NS + "Annotated"), (NS + "Column", NS + "Annotated"),
                 (NS + "ColumnPair", NS + "Annotated"),
                 (NS + "Annotated", NS + "Resource")],
    "functional_preds": (P_CTA, P_CPA),
    "entity_prefix": DBR,
    "disjoint_pairs": ((NS + "Cell", NS + "Column"), (NS + "Column", NS + "ColumnPair")),
    "entity_prefixes": (DBR,),
}
SCHEMA_COLS = {"subproperty": ("child", "parent"), "subclass": ("child", "parent"),
               "domain": ("pred", "cls"), "range": ("pred", "cls")}
KG_TABLES = ("kg_labels", "kg_types", "kg_subclass", "kg_triples")


@dataclass
class Gold:
    cea: pd.DataFrame   # table_id, col_role, mention, entity
    cta: pd.DataFrame   # table_id, column, class
    cpa: pd.DataFrame   # table_id, col_a, col_b, pred


@dataclass
class Inputs:
    workdir: str
    gold: Gold
    n_pages: int
    # the tables committed before the job: cea, cta, cpa, triples
    base: dict[str, pd.DataFrame]
    # recrawl only
    status: dict[str, str] | None = None   # url -> chosen diff status

    def pages(self, status: str) -> set[str]:
        return {u for u, s in self.status.items() if s == status}


def _write(df: pd.DataFrame, path: str, files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-len(df) // files) if len(df) else 1
    for i in range(files):
        part = df.iloc[i * step:(i + 1) * step]
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
            coerce_timestamps="us", allow_truncated_timestamps=True,
        )


def _write_common(workdir: str, kg, pages: pd.DataFrame, name: str) -> None:
    _write(pages, os.path.join(workdir, name), PAGE_FILES)
    for t, df in zip(KG_TABLES, (kg.labels, kg.types, kg.subclass, kg.triples)):
        _write(df, os.path.join(workdir, "kg", t))


def _gold(fx, keep_urls=None) -> Gold:
    def sel(df):
        if keep_urls is None:
            return df.reset_index(drop=True)
        return df[url_of(df["table_id"]).isin(keep_urls)].reset_index(drop=True)

    return Gold(sel(fx.gold_cea), sel(fx.gold_cta), sel(fx.gold_cpa))


def publish_inputs(workdir: str, seed: int) -> Inputs:
    """The triples parquet ``jobs.py publish`` reads, and the publish schema."""
    fx = gen_pages_pd(build_kg(seed=KG_SEED), n_pages=PUBLISH_PAGES, seed=seed)
    gold = _gold(fx)
    base = base_tables(gold)
    _write(base["triples"], os.path.join(workdir, "triples"), PAGE_FILES)
    for name, cols in SCHEMA_COLS.items():
        _write(pd.DataFrame(PUBLISH[name], columns=list(cols)),
               os.path.join(workdir, "schema", name))
    return Inputs(workdir, gold, PUBLISH_PAGES, base)


def recrawl_inputs(workdir: str, seed: int) -> Inputs:
    kg = build_kg(seed=KG_SEED)
    n_add = round(PAGES * ADDED)
    fx = gen_pages_pd(kg, n_pages=PAGES + n_add, seed=seed)
    alt = gen_pages_pd(kg, n_pages=PAGES, seed=seed + 1_000_003)
    urls = list(fx.pages["url"])
    base_urls, added = urls[:PAGES], urls[PAGES:]

    rng = random.Random(seed * 7919 + 1)
    order = rng.sample(range(PAGES), PAGES)
    n_rem, n_chg = round(PAGES * REMOVED), round(PAGES * CHANGED)
    removed = {base_urls[i] for i in order[:n_rem]}
    # a regenerated page counts as changed only if its bytes differ
    changed = set([base_urls[i] for i in order[n_rem:]
                   if alt.pages["html"][i] != fx.pages["html"][i]][:n_chg])

    status = {u: "unchanged" for u in base_urls}
    status.update({u: "removed" for u in removed})
    status.update({u: "changed" for u in changed})
    status.update({u: "added" for u in added})

    base_pages = fx.pages.iloc[:PAGES]
    new_pages = pd.concat([
        fx.pages[fx.pages["url"].map(lambda u: status[u] in ("unchanged", "added"))],
        alt.pages[alt.pages["url"].isin(changed)],
    ]).sort_values("url").reset_index(drop=True)
    _write_common(workdir, kg, base_pages, "old_pages")
    _write(new_pages, os.path.join(workdir, "pages"), PAGE_FILES)

    keep = {u for u, s in status.items() if s in ("unchanged", "added")}
    old_g, kept_g, chg_g = _gold(fx, set(base_urls)), _gold(fx, keep), _gold(alt, changed)
    gold = Gold(*(pd.concat([getattr(kept_g, f), getattr(chg_g, f)], ignore_index=True)
                  for f in ("cea", "cta", "cpa")))
    base = base_tables(old_g)
    write_catalog(os.path.join(workdir, "catalog"), base)
    return Inputs(workdir, gold, len(new_pages), base, status=status)


def base_tables(g: Gold) -> dict[str, pd.DataFrame]:
    """The previous run's committed tables, built from gold in the pipeline's
    column layout (the layout ``run_pipeline_resumable`` commits)."""
    cea = g.cea.assign(
        mention_norm=g.cea["mention"].map(normalize_entry_py),
        agg_rank=BASE_AGG_RANK,
    )[["table_id", "col_role", "mention", "mention_norm", "entity", "agg_rank"]]
    cta = g.cta.assign(votes=BASE_VOTES)[["table_id", "column", "class", "votes"]]
    cpa = g.cpa.assign(votes=BASE_VOTES)[["table_id", "col_a", "col_b", "pred", "votes"]]
    return {"cea": cea, "cta": cta, "cpa": cpa,
            "triples": checks.emit_triples(cea, cta, cpa)}


def write_catalog(root: str, tables: dict[str, pd.DataFrame]) -> None:
    """Commit ``tables`` as snapshot ``snap-000000`` in the parquet +
    manifest layout of ``tabbyld_spark.sources.catalog.SnapshotCatalog``."""
    for name, df in tables.items():
        snap = "snap-000000"
        _write(df.astype({c: "int64" for c in ("votes",) if c in df}),
               os.path.join(root, name, snap))
        man = {"current": snap, "history": [{
            "snapshot": snap, "rows": len(df), "dirs": [snap],
            "lineage": {"stage": "gold-base"}}]}
        with open(os.path.join(root, name, "_manifest.json"), "w") as f:
            json.dump(man, f, indent=1)

