"""Per-layer trace of one job, recorded from outside the program.

The traced run replaces, for the life of the process, the public functions
that ``plans.pipeline``, ``plans.incremental`` and ``plans.kgpublish`` call
with wrappers.  A wrapper sets a Spark job group named after its layer when
its function is entered and restores the previous group on exit, so the
program still runs its own composition.  Layer figures are read back from
Spark's status store over py4j; the UI stays off.

Spark evaluates lazily: most work runs when a frame is materialised (a
``cut()``, a catalog commit, a count or a collect), not when the operator
that built it returns.  So each frame a wrapped operator returns is tagged
with the operator's layer, a frame derived from a tagged frame by a
DataFrame method (select, union, join on it, ...) keeps the tag, and a
materialisation runs under the tag of the frame it materialises:

* a ``cut()``, count or collect of an untagged frame runs under the
  innermost active layer;
* a catalog commit of an untagged frame is ``catalog`` work;
* frames a materialisation returns are untagged.

A job that evaluates pending work of several layers is charged to the one
whose frame it materialises.  ``tables_to_canonical`` counts as ``extract``:
the canonical frame is only ever materialised together with the extractor's
output, and the extractor's Python UDF is the work in that job.

Wall time is split over a timeline: at every instant it belongs to the
layer that is running, or to no layer ("uncovered"), or to the trace's own
row counting.  The parts therefore sum to the job wall by construction;
``trace.sum_error`` reports how far they are off.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

LAYERS = ("extract", "mentions", "candidates", "features", "aggregate",
          "triples", "catalog", "urls", "incremental", "entailment",
          "kgquery", "kgstats")
FIELDS = ("wall_s", "driver_gap_s", "jobs", "tasks", "executor_cpu_s",
          "gc_s", "shuffle_mb", "spill_mb", "rows_out")
RATIOS = ("candidates.per_mention", "candidates.win_ratio",
          "incremental.redo_ratio", "catalog.rows_written_per_changed_row",
          "entailment.derived_rows")
TRACE = ("trace.job_s", "trace.uncovered_s", "trace.uncovered_jobs",
         "trace.count_s", "trace.sum_error", "run.peak_rss_mb")
UNITS = {"wall_s": "s", "driver_gap_s": "s", "jobs": "count", "tasks": "count",
         "executor_cpu_s": "s", "gc_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
         "rows_out": "count", "per_mention": "ratio", "win_ratio": "ratio",
         "redo_ratio": "ratio", "rows_written_per_changed_row": "ratio",
         "derived_rows": "count", "job_s": "s", "uncovered_s": "s",
         "uncovered_jobs": "count", "count_s": "s", "sum_error": "ratio",
         "peak_rss_mb": "MB"}
_COUNTING = "_trace"

# (module, attribute, layer): each name is patched where the plans look it up
OPERATORS = [
    ("tabbyld_spark.plans.pipeline", "extract_pages", "extract"),
    ("tabbyld_spark.plans.pipeline", "tables_to_canonical", "extract"),
    ("tabbyld_spark.plans.pipeline", "all_mentions", "mentions"),
    ("tabbyld_spark.plans.pipeline", "build_gazetteer", "mentions"),
    ("tabbyld_spark.plans.pipeline", "attach_ner", "mentions"),
    ("tabbyld_spark.operators.fuzzy", "lsh_fuzzy_candidates", "candidates"),
    ("tabbyld_spark.plans.pipeline", "generate_candidates", "candidates"),
    ("tabbyld_spark.plans.pipeline", "entry_context", "mentions"),
    ("tabbyld_spark.operators.features", "base_feature_ranks", "features"),
    ("tabbyld_spark.operators.features", "entity_context", "features"),
    ("tabbyld_spark.operators.features", "context_similarity", "features"),
    ("tabbyld_spark.operators.features", "parent_classes", "features"),
    ("tabbyld_spark.operators.features", "semantic_similarity", "features"),
    ("tabbyld_spark.plans.pipeline", "aggregate_ranks", "aggregate"),
    ("tabbyld_spark.plans.pipeline", "cea_top1", "aggregate"),
    ("tabbyld_spark.plans.pipeline", "cta_vote", "aggregate"),
    ("tabbyld_spark.plans.pipeline", "cpa_vote", "aggregate"),
    ("tabbyld_spark.plans.pipeline", "emit_triples", "triples"),
    ("tabbyld_spark.plans.incremental", "emit_triples", "triples"),
    ("tabbyld_spark.plans.incremental", "crawl_diff", "urls"),
    ("tabbyld_spark.operators.urls", "crawl_diff", "urls"),
    ("tabbyld_spark.plans.kgpublish", "rdfs_entailment", "entailment"),
    ("tabbyld_spark.plans.kgpublish", "kg_integrity_profile", "kgquery"),
    ("tabbyld_spark.plans.kgpublish", "predicate_stats", "kgstats"),
]
# DataFrame methods whose result keeps the tag of the frame they are called on
DERIVING = ("alias", "coalesce", "distinct", "drop", "dropDuplicates", "filter",
            "hint", "join", "limit", "orderBy", "repartition", "select",
            "selectExpr", "sort", "union", "unionByName", "where", "withColumn",
            "withColumnRenamed", "withColumns")
# plan functions: they set their layer while running but tag no output, so
# the frames they return are committed as catalog work
PLANS = [("tabbyld_spark.plans.incremental", "refresh_annotations", "incremental")]


class Tracer:
    def __init__(self, spark):
        from pyspark.sql import DataFrame

        self.spark = spark
        self.sc = spark.sparkContext
        self._df_type = DataFrame
        self.stack: list[str | None] = []
        self.timeline: list[tuple[float, str | None]] = []
        self.tags: dict[int, tuple[str, str]] = {}
        self._alive: list = []  # tagged frames stay referenced: ids stay unique
        self.rows = dict.fromkeys(LAYERS, 0)
        self.cut_rows: list[tuple[str, int]] = []  # (producer, rows)
        self.rows_written = 0
        self._first_job = 0
        self._t0 = self._t1 = 0.0

    # -- timeline and job groups -------------------------------------------

    def _switch(self, layer: str | None) -> None:
        if layer is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(layer, layer)
        self.timeline.append((time.time(), layer))

    @contextmanager
    def active(self, layer: str | None):
        prev = self.stack[-1] if self.stack else None
        self.stack.append(layer)
        self._switch(layer)
        try:
            yield
        finally:
            self.stack.pop()
            self._switch(prev)

    def start(self) -> None:
        self._first_job = self._store().jobsList(None).size()
        self._t0 = time.time()
        self._switch(None)

    def stop(self) -> None:
        self._t1 = time.time()

    # -- tags ------------------------------------------------------------------

    def _tag_of(self, df) -> tuple[str, str] | None:
        return self.tags.get(id(df))

    def _tag_outputs(self, out, tag: tuple[str, str]) -> None:
        for df in out if isinstance(out, tuple) else (out,):
            if isinstance(df, self._df_type):
                self.tags[id(df)] = tag
                self._alive.append(df)

    def _count(self, df, count) -> int:
        with self.active(_COUNTING):
            return count(df)

    # -- wrappers --------------------------------------------------------------

    def _operator(self, fn, layer: str, tag: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.active(layer):
                out = fn(*args, **kwargs)
            if tag:
                self._tag_outputs(out, (layer, fn.__name__))
            return out
        return wrapper

    def install(self) -> None:
        """Patch the program for the rest of this process."""
        import importlib

        import tabbyld_spark.functions.lineage as lineage
        import tabbyld_spark.operators.fuzzy  # noqa: F401  (imported lazily by the plan)
        import tabbyld_spark.plans.incremental  # noqa: F401
        import tabbyld_spark.plans.kgpublish  # noqa: F401
        import tabbyld_spark.plans.pipeline  # noqa: F401
        from tabbyld_spark.sources.catalog import SnapshotCatalog

        for specs, tag in ((OPERATORS, True), (PLANS, False)):
            for mod, name, layer in specs:
                m = importlib.import_module(mod)
                setattr(m, name, self._operator(getattr(m, name), layer, tag))

        orig_cut = lineage.cut
        df_type = type(self.spark.range(1))
        orig_count, orig_collect = df_type.count, df_type.collect

        def cut(df, *args, **kwargs):
            tag = self._tag_of(df)
            layer = tag[0] if tag else (self.stack[-1] if self.stack else None)
            with self.active(layer):
                out = orig_cut(df, *args, **kwargs)
            n = self._count(out, orig_count)
            if layer in self.rows:
                self.rows[layer] += n
            self.cut_rows.append((tag[1] if tag else "", n))
            return out

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("tabbyld_spark") and \
                    getattr(mod, "cut", None) is orig_cut:
                mod.cut = cut

        def deriving(orig):
            @functools.wraps(orig)
            def wrapper(df, *args, **kwargs):
                out = orig(df, *args, **kwargs)
                tag = self._tag_of(df)
                if tag is not None:
                    self._tag_outputs(out, tag)
                return out
            return wrapper

        for name in DERIVING:
            setattr(df_type, name, deriving(getattr(df_type, name)))

        def action(orig, size):
            @functools.wraps(orig)
            def wrapper(df, *args, **kwargs):
                tag = self._tag_of(df)
                if tag is None:
                    return orig(df, *args, **kwargs)
                with self.active(tag[0]):
                    res = orig(df, *args, **kwargs)
                self.rows[tag[0]] += size(res)
                return res
            return wrapper

        df_type.count = action(orig_count, int)
        df_type.collect = action(orig_collect, len)

        orig_write, orig_read = SnapshotCatalog.write, SnapshotCatalog.read
        orig_compact = SnapshotCatalog.compact

        def write(cat, df, table, lineage=None):
            tag = self._tag_of(df)
            layer = tag[0] if tag else "catalog"
            with self.active(layer):
                snap = orig_write(cat, df, table, lineage=lineage)
            n = next(h["rows"] for h in cat.manifest(table)["history"]
                     if h["snapshot"] == snap)
            self.rows[layer] += n
            self.rows_written += n
            return snap

        def read(cat, spark, table):
            with self.active("catalog"):
                return orig_read(cat, spark, table)

        def compact(cat, spark, table, *args, **kwargs):
            with self.active("catalog"):
                return orig_compact(cat, spark, table, *args, **kwargs)

        SnapshotCatalog.write, SnapshotCatalog.read = write, read
        SnapshotCatalog.compact = compact

    # -- read-back -------------------------------------------------------------

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _jobs(self) -> list[dict]:
        store = self._store()
        seq = store.jobsList(None)
        jobs, seen = [], set()
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() < self._first_job:
                continue
            jobs.append({
                "id": j.jobId(),
                "group": j.jobGroup().get() if j.jobGroup().isDefined() else None,
                "start": j.submissionTime().get().getTime() / 1000.0,
                "end": (j.completionTime().get().getTime() / 1000.0
                        if j.completionTime().isDefined() else self._t1),
                "stages": [j.stageIds().apply(k) for k in range(j.stageIds().size())],
            })
        jobs.sort(key=lambda r: r["id"])
        for job in jobs:
            job["metrics"] = dict.fromkeys(
                ("tasks", "executor_cpu_s", "gc_s", "shuffle_mb", "spill_mb"), 0.0)
            for sid in job["stages"]:
                if sid in seen:
                    continue  # a stage reused by a later job ran once
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: it never had an attempt
                    continue
                m = job["metrics"]
                m["tasks"] += st.numCompleteTasks()
                m["executor_cpu_s"] += st.executorCpuTime() / 1e9
                m["gc_s"] += st.jvmGcTime() / 1e3
                m["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
                m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        return jobs

    def _intervals(self) -> list[tuple[float, float, str | None]]:
        ev = self.timeline + [(self._t1, None)]
        return [(max(t, self._t0), min(u, self._t1), lay)
                for (t, lay), (u, _) in zip(ev, ev[1:]) if u > self._t0 and t < self._t1]

    def metrics(self, extra: dict[str, float]) -> dict[str, float]:
        """Every per-layer metric; ``extra`` supplies the ratios measured by
        the workload itself (redo ratio, changed rows, derived rows)."""
        jobs = self._jobs()
        busy = _union([(j["start"], j["end"]) for j in jobs])
        out: dict[str, float] = {}
        wall = dict.fromkeys(LAYERS, 0.0)
        gap = dict.fromkeys(LAYERS, 0.0)
        other = {None: 0.0, _COUNTING: 0.0}
        for a, b, lay in self._intervals():
            if lay in wall:
                wall[lay] += b - a
                gap[lay] += (b - a) - _overlap(a, b, busy)
            else:
                other[lay if lay in other else None] += b - a
        for layer in LAYERS:
            mine = [j for j in jobs if j["group"] == layer]
            out[f"{layer}.wall_s"] = wall[layer]
            out[f"{layer}.driver_gap_s"] = gap[layer]
            out[f"{layer}.jobs"] = len(mine)
            for k in ("tasks", "executor_cpu_s", "gc_s", "shuffle_mb", "spill_mb"):
                out[f"{layer}.{k}"] = sum(j["metrics"][k] for j in mine)
            out[f"{layer}.rows_out"] = self.rows[layer]

        def rows_of(producer: str) -> int:
            return sum(n for p, n in self.cut_rows if p == producer)

        mentions, cands = rows_of("attach_ner"), rows_of("generate_candidates")
        out["candidates.per_mention"] = cands / mentions if mentions else 0.0
        out["candidates.win_ratio"] = rows_of("cea_top1") / cands if cands else 0.0
        out["incremental.redo_ratio"] = extra.get("redo_ratio", 0.0)
        changed = extra.get("changed_rows", 0)
        out["catalog.rows_written_per_changed_row"] = (
            self.rows_written / changed if changed else 0.0)
        out["entailment.derived_rows"] = extra.get("derived_rows", 0)

        job_s = self._t1 - self._t0
        covered = sum(wall.values()) + other[None] + other[_COUNTING]
        out["trace.job_s"] = job_s
        out["trace.uncovered_s"] = other[None]
        out["trace.uncovered_jobs"] = sum(1 for j in jobs if j["group"] not in LAYERS
                                          and j["group"] != _COUNTING)
        out["trace.count_s"] = other[_COUNTING]
        out["trace.sum_error"] = abs(covered - job_s) / job_s if job_s else 0.0
        return out


def names() -> list[str]:
    return [f"{l}.{f}" for l in LAYERS for f in FIELDS] + list(RATIOS) + list(TRACE)


def unit(name: str) -> str:
    return UNITS[name.split(".", 1)[1]]


def _union(spans):
    out: list[list[float]] = []
    for a, b in sorted(spans):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _overlap(a: float, b: float, spans) -> float:
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in spans)
