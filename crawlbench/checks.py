"""Output checks computed apart from the program: pandas and plain Python
over the committed parquet files, never the program's own operators.

Each check returns a list of failure messages (empty = pass).
``corruptions`` and ``self_test`` are the check self-test: every corrupted
copy of the outputs must be rejected by the checks named for it.
"""

from __future__ import annotations

import json
import math
import os
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq

NS = "https://tabbyld-spark.example.org/ns#"
P_CEA, P_CTA, P_CPA = NS + "cea", NS + "cta", NS + "cpa"
RDF_TYPE_URI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
OWL_THING = "http://www.w3.org/2002/07/owl#Thing"
# the entailment pass's own type predicate (operators/entailment.py default)
RDF_TYPE = "rdf:type"
MIN_PR = 0.95
KEYS = {
    "cea": (["table_id", "col_role", "mention"], "entity"),
    "cta": (["table_id", "column"], "class"),
    "cpa": (["table_id", "col_a", "col_b"], "pred"),
}


def manifest(catalog: str, table: str) -> dict:
    with open(os.path.join(catalog, table, "_manifest.json")) as f:
        return json.load(f)


def read_table(catalog: str, table: str) -> pd.DataFrame:
    """The current snapshot of a ``SnapshotCatalog`` table, read with pyarrow."""
    man = manifest(catalog, table)
    entry = next(h for h in man["history"] if h["snapshot"] == man["current"])
    parts = [pq.read_table(os.path.join(catalog, table, d)).to_pandas()
             for d in entry.get("dirs", [man["current"]])]
    return pd.concat(parts, ignore_index=True)


def _plain(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return v.item() if hasattr(v, "item") else v


def rows(df: pd.DataFrame, cols=None) -> Counter:
    """Multiset of row tuples, numpy scalars as Python values, NaN as None."""
    df = df[list(cols)] if cols is not None else df
    return Counter(tuple(map(_plain, r)) for r in df.itertuples(index=False, name=None))


def emit_triples(cea: pd.DataFrame, cta: pd.DataFrame, cpa: pd.DataFrame) -> pd.DataFrame:
    """The emission rules: cell→entity, entity typing (distinct),
    column→class, column pair→predicate."""
    parts = [
        pd.DataFrame({"subj": cea["table_id"] + "#" + cea["col_role"] + "#" + cea["mention_norm"],
                      "pred": P_CEA, "obj": cea["entity"]}),
        pd.DataFrame({"subj": cea["entity"].drop_duplicates(), "pred": RDF_TYPE_URI,
                      "obj": OWL_THING}),
        pd.DataFrame({"subj": cta["table_id"] + "#" + cta["column"], "pred": P_CTA,
                      "obj": cta["class"]}),
        pd.DataFrame({"subj": cpa["table_id"] + "#" + cpa["col_a"] + "#" + cpa["col_b"],
                      "pred": P_CPA, "obj": cpa["pred"]}),
    ]
    return pd.concat(parts, ignore_index=True)[["subj", "pred", "obj"]]


def url_of(table_id: pd.Series) -> pd.Series:
    return table_id.str.replace(r"#t\d+$", "", regex=True)


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def check_quality(out: dict, gold) -> list[str]:
    """CEA/CTA/CPA precision and recall against gold, as set arithmetic."""
    fails = []
    for task, (keys, val) in KEYS.items():
        pred = set(rows(out[task], keys + [val]))
        ref = set(rows(getattr(gold, task), keys + [val]))
        hit = len(pred & ref)
        p = hit / len(pred) if pred else 0.0
        r = hit / len(ref) if ref else 0.0
        if p < MIN_PR or r < MIN_PR:
            fails.append(f"{task}: precision {p:.4f} recall {r:.4f} < {MIN_PR}")
    return fails


def check_triples(out: dict, gold=None) -> list[str]:
    """Committed triples = the emission rules over the committed tables."""
    fails = []
    for t in ("cea", "cta", "cpa", "triples"):
        if out[t].isna().any().any():
            fails.append(f"{t}: null terms")
    want = rows(emit_triples(out["cea"], out["cta"], out["cpa"]))
    got = rows(out["triples"])
    if got != want:
        fails.append(f"triples: {sum((got - want).values())} unexpected, "
                     f"{sum((want - got).values())} missing")
    return fails


def rdfs_closure(triples: set, schema: dict) -> set:
    """ρdf materialisation in plain Python: subPropertyOf (rdfs5/7),
    domain (rdfs2), range (rdfs3, entity objects only), subClassOf (rdfs9/11)."""
    def ancestors(edges):
        up: dict[str, set] = {}
        for c, p in edges:
            up.setdefault(c, set()).add(p)
        out = {}
        for c in up:
            seen, todo = set(), list(up[c])
            while todo:
                x = todo.pop()
                if x not in seen:
                    seen.add(x)
                    todo.extend(up.get(x, ()))
            out[c] = seen
        return out

    sp, sc = ancestors(schema["subproperty"]), ancestors(schema["subclass"])
    dom, rng = dict(schema["domain"]), dict(schema["range"])
    prefixes = tuple(schema["entity_prefixes"])
    base = {t for t in triples if t[1] != RDF_TYPE}
    inherited = {(s, q, o) for s, p, o in base for q in sp.get(p, ())}
    derived = set(inherited)
    for s, p, o in base | inherited:
        if p in dom:
            derived.add((s, RDF_TYPE, dom[p]))
        if p in rng and o is not None and o.startswith(prefixes):
            derived.add((o, RDF_TYPE, rng[p]))
    types = {(s, o) for s, p, o in triples | derived if p == RDF_TYPE}
    derived |= {(s, RDF_TYPE, d) for s, c in types for d in sc.get(c, ())}
    return derived - triples


def check_publish(out: dict, inputs) -> list[str]:
    """Published = input ∪ RDFS closure; compaction keeps the row count."""
    fails = []
    pub = out["published"]
    if pub.isna().any().any():
        fails.append("published: null terms")
    inp = set(rows(inputs.base["triples"]))
    want = inp | rdfs_closure(inp, out["schema"])
    got = rows(pub)
    if set(got) != want or any(n > 1 for n in got.values()):
        fails.append(f"published: {len(set(got) - want)} unexpected, "
                     f"{len(want - set(got))} missing, "
                     f"{sum(n - 1 for n in got.values())} duplicated")
    hist = out["published_manifest"]["history"]
    if len(hist) < 2 or hist[-1]["lineage"].get("op") != "compact":
        fails.append("published: no compaction snapshot")
    elif not (hist[-1]["rows"] == hist[-2]["rows"] == len(pub)):
        fails.append(f"published: compacted {hist[-1]['rows']} rows, "
                     f"committed {hist[-2]['rows']}, read {len(pub)}")
    return fails


def check_stats(out: dict, inputs=None) -> list[str]:
    """Predicate stats = per-predicate triple, subject and object counts of
    the published table."""
    pub = out["published"]
    want = Counter({(p, len(g), g["subj"].nunique(), g["obj"].nunique())
                    for p, g in pub.groupby("pred")})
    got = rows(out["stats"], ["pred", "n_triples", "n_subjects", "n_objects"])
    if got != want:
        return [f"stats: {sum((got - want).values())} unexpected, "
                f"{sum((want - got).values())} missing"]
    return []


def check_diff(out: dict, inputs) -> list[str]:
    got = {u: s for u, s in out["delta"]}
    if len(got) != len(out["delta"]):
        return ["diff: duplicate urls"]
    if got != inputs.status:
        bad = sorted(u for u in set(got) | set(inputs.status)
                     if got.get(u) != inputs.status.get(u))
        return [f"diff: {len(bad)} urls with the wrong status, e.g. {bad[:3]}"]
    return []


def check_refresh(out: dict, inputs) -> list[str]:
    """Unchanged pages keep their base rows exactly; removed and changed
    pages keep none."""
    fails = []
    by = {s: {u for u, st in inputs.status.items() if st == s}
          for s in ("unchanged", "removed", "changed")}
    for t in ("cea", "cta", "cpa"):
        cur, base = out[t], inputs.base[t]
        cu, bu = url_of(cur["table_id"]), url_of(base["table_id"])
        if rows(cur[cu.isin(by["unchanged"])]) != rows(base[bu.isin(by["unchanged"])]):
            fails.append(f"{t}: rows of unchanged pages differ from the base")
        gone = by["removed"] | by["changed"]
        survived = set(rows(cur[cu.isin(gone)])) & set(rows(base[bu.isin(gone)]))
        if survived or cu.isin(by["removed"]).any():
            fails.append(f"{t}: rows of removed or changed pages survive")
    return fails


CHECKS = {
    "recrawl": {"quality": check_quality, "triples": check_triples,
                "diff": check_diff, "refresh": check_refresh},
    "publish": {"publish": check_publish, "stats": check_stats},
}


def run_checks(workload: str, out: dict, inputs) -> dict[str, list[str]]:
    arg = {"quality": inputs.gold}
    return {name: fn(out, arg.get(name, inputs))
            for name, fn in CHECKS[workload].items()}


# ---------------------------------------------------------------------------
# self-test: corrupted copies that the checks must reject
# ---------------------------------------------------------------------------


def _rows_of(out, t, pages):
    """Index of the rows of ``t`` that belong to ``pages`` (all if None)."""
    df = out[t]
    return df.index if pages is None else df.index[url_of(df["table_id"]).isin(pages)]


def _drop(t, frac=0.0, pages=None):
    def f(out, inputs):
        idx = _rows_of(out, t, pages and inputs.pages(pages))
        n = max(1, int(len(out[t]) * frac))
        return {**out, t: out[t].drop(idx[len(idx) // 2: len(idx) // 2 + n])}
    return f


def _swap(t, col, frac=0.0):
    """Exchange ``col`` between pairs of rows, each swap changing both rows."""
    def f(out, inputs):
        df = out[t].copy()
        vals = df[col].tolist()
        rest = list(df.drop(columns=[col]).itertuples(index=False, name=None))
        n = max(1, int(len(df) * frac))
        i, done = 0, 0
        while done < n and i + 1 < len(vals):
            j = next((k for k in range(i + 1, min(len(vals), i + 1000))
                      if vals[k] != vals[i] and rest[k] != rest[i]), None)
            if j is None:
                i += 1
                continue
            vals[i], vals[j] = vals[j], vals[i]
            i, done = j + 1, done + 1
        df[col] = vals
        return {**out, t: df}
    return f


def _null(t, col, frac=0.0):
    def f(out, inputs):
        df = out[t].copy()
        n = max(1, int(len(df) * frac))
        df[col] = df[col].astype(object)
        df.loc[df.index[:n], col] = None
        return {**out, t: df}
    return f


def _drop_delta(out, inputs):
    return {**out, "delta": out["delta"][1:]}


def _swap_delta(out, inputs):
    d = list(out["delta"])
    j = next(k for k in range(1, len(d)) if d[k][1] != d[0][1])
    d[0], d[j] = (d[0][0], d[j][1]), (d[j][0], d[0][1])
    return {**out, "delta": d}


def _null_delta(out, inputs):
    return {**out, "delta": [(out["delta"][0][0], None)] + list(out["delta"][1:])}


def _survive(out, inputs):
    """Put back one base row of a removed page."""
    base = inputs.base["cea"]
    row = base[url_of(base["table_id"]).isin(inputs.pages("removed"))].head(1)
    return {**out, "cea": pd.concat([out["cea"], row], ignore_index=True)}


def corruptions(workload: str) -> dict:
    """name -> (corrupt(out, inputs), the checks expected to reject it)."""
    if workload == "publish":
        return {
            "published: drop row": (_drop("published"), {"publish", "stats"}),
            "published: swap entity": (_swap("published", "subj"), {"publish"}),
            "published: null term": (_null("published", "obj"), {"publish"}),
            "stats: drop row": (_drop("stats"), {"stats"}),
            "stats: swap count": (_swap("stats", "n_subjects"), {"stats"}),
            "stats: null predicate": (_null("stats", "pred"), {"stats"}),
        }
    return {
        # a tenth of the rows: the quality threshold must notice
        "cea: drop 10% rows": (_drop("cea", 0.1), {"quality", "triples"}),
        "cea: swap entity on 10% rows": (_swap("cea", "entity", 0.1), {"quality", "triples"}),
        "cea: null entity on 10% rows": (_null("cea", "entity", 0.1), {"quality", "triples"}),
        "cta: swap class on 10% rows": (_swap("cta", "class", 0.1), {"quality", "triples"}),
        "cpa: drop 10% rows": (_drop("cpa", 0.1), {"quality", "triples"}),
        # one row: the exact checks must notice
        "triples: drop row": (_drop("triples"), {"triples"}),
        "triples: swap entity": (_swap("triples", "obj"), {"triples"}),
        "triples: null term": (_null("triples", "subj"), {"triples"}),
        "cea: drop row": (_drop("cea"), {"triples"}),
        "cea: swap entity": (_swap("cea", "entity"), {"triples"}),
        "delta: drop row": (_drop_delta, {"diff"}),
        "delta: swap status": (_swap_delta, {"diff"}),
        "delta: null status": (_null_delta, {"diff"}),
        "cea: drop row of an unchanged page": (
            _drop("cea", pages="unchanged"), {"refresh", "triples"}),
        "cea: base row of a removed page survives": (_survive, {"refresh"}),
    }


def self_test(workload: str, out: dict, inputs) -> list[str]:
    """Run every corruption through the checks; return the ones a check
    that should have rejected it let through."""
    misses = []
    for name, (fn, expect) in corruptions(workload).items():
        res = run_checks(workload, fn(out, inputs), inputs)
        missed = sorted(k for k in expect if not res[k])
        if missed:
            misses.append(f"{name}: not rejected by {', '.join(missed)}")
    return misses
