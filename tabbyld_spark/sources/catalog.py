"""Snapshot catalog — the table-format abstraction behind stage resume (S8).

The north rule asks for Iceberg tables with snapshot resume.  Two bindings
share one API:

  * ``SnapshotCatalog`` — parquet directories plus an atomically-replaced
    JSON manifest (SURVEY.md §7 M4 fallback; always available)
  * ``IcebergCatalog`` — real Iceberg tables (atomic snapshot commits,
    lineage as snapshot summary properties) when the Iceberg Spark runtime
    jar is on the classpath; the sandbox ships none, so this binding is
    feature-gated on :func:`iceberg_available` and its tests skip here

``make_catalog`` picks the best available binding; ``run_stage`` keeps
working unchanged against either.

Guarantees (both bindings):
  * a snapshot is visible only after its atomic commit (os.replace for the
    manifest; Iceberg's metadata-pointer swap for tables)
  * `run_stage` recomputes a stage only if it has no committed snapshot —
    kill the job between stages and a rerun resumes from the last commit
  * every commit records per-stage lineage (row count, inputs, snapshot id)
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class _StageRunner:
    """Resume-aware stage execution shared by every catalog binding."""

    def run_stage(
        self,
        spark: SparkSession,
        table: str,
        compute: Callable[[], DataFrame],
        lineage: dict | None = None,
        force: bool = False,
    ) -> DataFrame:
        """Reuse the committed snapshot if one exists, else compute → commit
        → read back (so downstream stages read stable files, not live
        lineage)."""
        if not force and self.exists(table):
            return self.read(spark, table)
        self.write(compute(), table, lineage=lineage)
        return self.read(spark, table)


@dataclass
class SnapshotCatalog(_StageRunner):
    root: str

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_manifest.json")

    def manifest(self, table: str) -> dict | None:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def exists(self, table: str) -> bool:
        return self.manifest(table) is not None

    def _commit_manifest(self, table: str, man: dict) -> None:
        """Atomic commit: write the manifest beside the live one, then
        ``os.replace`` it in — readers see the old or the new, never a mix."""
        path = self._manifest_path(table)
        with open(path + ".tmp", "w") as f:
            json.dump(man, f, indent=1)
        os.replace(path + ".tmp", path)

    def write(self, df: DataFrame, table: str, lineage: dict | None = None) -> str:
        """Overwrite-commit a new snapshot; returns the snapshot id."""
        man = self.manifest(table) or {"history": []}
        snap_id = f"snap-{len(man['history']):06d}"
        tdir = self._table_dir(table)
        data_dir = os.path.join(tdir, snap_id)
        # row count via an attached observation — captured DURING the write
        # job, so a commit costs exactly one scan (no read-back of the full
        # snapshot to count rows; at 100 TB that second scan doubles stage I/O)
        obs = Observation(f"catalog-{table}-{snap_id}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(data_dir)
        n_rows = obs.get["rows"]
        man["current"] = snap_id
        man["history"].append(
            {"snapshot": snap_id, "rows": n_rows, "dirs": [snap_id],
             "lineage": lineage or {}}
        )
        self._commit_manifest(table, man)
        return snap_id

    def append(self, df: DataFrame, table: str, lineage: dict | None = None) -> str:
        """Append-commit: the new snapshot references the PRIOR snapshot's
        data files plus one new delta dir — only the delta is written.  This
        is the Iceberg append semantics the incremental-ledger path needs:
        a batch commit costs O(delta) I/O, not O(table) (a full-rewrite
        commit at a 10^12-doc ledger would dominate every batch).  On a
        missing table this is the initial :meth:`write`."""
        man = self.manifest(table)
        if man is None:
            return self.write(df, table, lineage=lineage)
        prev = next(h for h in man["history"] if h["snapshot"] == man["current"])
        snap_id = f"snap-{len(man['history']):06d}"
        tdir = self._table_dir(table)
        delta_dir = os.path.join(tdir, snap_id)
        obs = Observation(f"catalog-{table}-{snap_id}")
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(delta_dir)
        n_delta = obs.get["rows"]
        man["current"] = snap_id
        man["history"].append(
            {
                "snapshot": snap_id,
                "rows": int(prev["rows"]) + n_delta,
                "dirs": self._entry_dirs(prev) + [snap_id],
                "lineage": {**(lineage or {}), "append_rows": n_delta},
            }
        )
        self._commit_manifest(table, man)
        return snap_id

    @staticmethod
    def _entry_dirs(entry: dict) -> list[str]:
        # pre-append manifests carry no "dirs" — one dir named by the snapshot
        return list(entry.get("dirs", [entry["snapshot"]]))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        man = self.manifest(table)
        if man is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        entry = next(h for h in man["history"] if h["snapshot"] == man["current"])
        tdir = self._table_dir(table)
        return spark.read.parquet(
            *[os.path.join(tdir, d) for d in self._entry_dirs(entry)]
        )

    def read_at(self, spark: SparkSession, table: str, snapshot: str) -> DataFrame:
        """Time-travel: read a specific committed snapshot by id.  Snapshot
        data dirs are immutable and retained until :meth:`expire_snapshots`,
        so any un-expired history entry stays readable after later commits
        — the debugging/rollback affordance Iceberg gives natively."""
        man = self.manifest(table)
        if man is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        entry = next((h for h in man["history"] if h["snapshot"] == snapshot), None)
        if entry is None or entry.get("expired"):
            raise FileNotFoundError(
                f"snapshot {snapshot!r} of table {table!r} is unknown or expired"
            )
        tdir = self._table_dir(table)
        return spark.read.parquet(
            *[os.path.join(tdir, d) for d in self._entry_dirs(entry)]
        )

    def compact(
        self,
        spark: SparkSession,
        table: str,
        target_rows_per_file: int = 1_000_000,
    ) -> str:
        """Small-files compaction: rewrite the CURRENT snapshot into
        ``ceil(rows / target_rows_per_file)`` files and commit the rewrite
        as a new snapshot (content-identical — the committed row count is
        re-observed during the rewrite and must match; a mismatch aborts
        before the manifest flips).  The maintenance job every streaming /
        incremental append path needs: micro-batch commits accrete
        file-per-batch layouts whose per-file open/seek overhead dominates
        scans long before data volume does."""
        man = self.manifest(table)
        if man is None:
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        prev = next(h for h in man["history"] if h["snapshot"] == man["current"])
        df = self.read(spark, table)
        n_files = max(1, -(-int(prev["rows"]) // int(target_rows_per_file)))
        snap = self.write(
            df.repartition(n_files),
            table,
            lineage={"op": "compact", "source_snapshot": man["current"],
                     "target_rows_per_file": int(target_rows_per_file)},
        )
        new_man = self.manifest(table)
        new_rows = next(
            h for h in new_man["history"] if h["snapshot"] == snap
        )["rows"]
        if new_rows != prev["rows"]:
            # roll the manifest back to the pre-compaction snapshot
            new_man["current"] = prev["snapshot"]
            new_man["history"] = [
                h for h in new_man["history"] if h["snapshot"] != snap
            ]
            self._commit_manifest(table, new_man)
            shutil.rmtree(
                os.path.join(self._table_dir(table), snap), ignore_errors=True
            )
            raise RuntimeError(
                f"compaction row-count mismatch for {table!r}: "
                f"{new_rows} != {prev['rows']} — rolled back"
            )
        return snap

    def expire_snapshots(self, table: str, keep_last: int = 1) -> list[str]:
        """Delete the data of all but the last ``keep_last`` snapshots
        (the current snapshot is always kept).  History entries remain in
        the manifest, marked ``expired`` — lineage is never erased, only
        data reclaimed.  Returns the expired snapshot ids."""
        man = self.manifest(table)
        if man is None:
            return []
        keep = max(1, int(keep_last))
        live = [h for h in man["history"] if not h.get("expired")]
        to_expire = [
            h for h in live[:-keep] if h["snapshot"] != man["current"]
        ]
        for h in to_expire:
            h["expired"] = True
        self._commit_manifest(table, man)
        # append snapshots REFERENCE older snapshots' data dirs: a dir is
        # reclaimable only when no live snapshot lists it (the same
        # reachability rule Iceberg's expire_snapshots applies to data
        # files).  The sweep covers EVERY expired entry, not just this
        # call's: a dir kept alive by an append snapshot must go once that
        # snapshot expires too.  It runs after the commit, so a kill in
        # between leaves only unlisted dirs, which the next expiry sweeps.
        referenced = {
            d for h in man["history"] if not h.get("expired")
            for d in self._entry_dirs(h)
        }
        for h in man["history"]:
            if h.get("expired") and h["snapshot"] not in referenced:
                shutil.rmtree(
                    os.path.join(self._table_dir(table), h["snapshot"]),
                    ignore_errors=True,
                )
        return [h["snapshot"] for h in to_expire]

    def drop(self, table: str) -> None:
        shutil.rmtree(self._table_dir(table), ignore_errors=True)


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime jar is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def iceberg_session_conf(warehouse: str, catalog: str = "graft") -> dict[str, str]:
    """extra_conf for :func:`tabbyld_spark.session.get_spark` that registers a
    Hadoop-warehouse Iceberg catalog (the self-contained setup — no external
    metastore; the warehouse dir may be hdfs:// or s3a:// on a cluster)."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


@dataclass
class IcebergCatalog(_StageRunner):
    """Iceberg binding of the snapshot-catalog API: commits are Iceberg
    snapshots (atomic metadata-pointer swap), lineage rides as snapshot
    summary properties, and ``manifest`` is reconstructed from the table's
    ``.snapshots`` metadata — the per-partition lineage/metrics surface the
    north rule names, on the real table format.  Requires a session built
    with :func:`iceberg_session_conf`."""

    catalog: str = "graft"
    namespace: str = "tabbyld"

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    def exists(self, table: str) -> bool:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        return spark is not None and spark.catalog.tableExists(self._ident(table))

    def manifest(self, table: str) -> dict | None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None or not self.exists(table):
            return None
        snaps = (
            spark.read.table(f"{self._ident(table)}.snapshots")
            .orderBy("committed_at")
            .select("snapshot_id", "summary")
            .collect()
        )
        history = [
            {
                "snapshot": str(r["snapshot_id"]),
                "rows": int(r["summary"].get("total-records", "0")),
                "lineage": json.loads(r["summary"].get("tabbyld-lineage", "{}")),
            }
            for r in snaps
        ]
        return {
            "current": history[-1]["snapshot"] if history else None,
            "history": history,
        }

    def write(self, df: DataFrame, table: str, lineage: dict | None = None) -> str:
        (
            df.writeTo(self._ident(table))
            .using("iceberg")
            .option("snapshot-property.tabbyld-lineage", json.dumps(lineage or {}))
            .createOrReplace()
        )
        return self.manifest(table)["current"]

    def append(self, df: DataFrame, table: str, lineage: dict | None = None) -> str:
        """Iceberg-native append: new snapshot referencing prior data files
        plus the delta — O(delta) write, atomic pointer swap."""
        if not self.exists(table):
            return self.write(df, table, lineage=lineage)
        (
            df.writeTo(self._ident(table))
            .option("snapshot-property.tabbyld-lineage", json.dumps(lineage or {}))
            .append()
        )
        return self.manifest(table)["current"]

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        if not self.exists(table):
            raise FileNotFoundError(f"no committed snapshot for table {table!r}")
        return spark.read.table(self._ident(table))

    def drop(self, table: str) -> None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.sql(f"DROP TABLE IF EXISTS {self._ident(table)} PURGE")


def make_catalog(spark: SparkSession, root: str) -> _StageRunner:
    """Best available binding: Iceberg when its runtime is on the classpath
    AND the session registered an Iceberg catalog, else the parquet+manifest
    stand-in (byte-compatible API either way)."""
    if iceberg_available(spark) and spark.conf.get(
        "spark.sql.catalog.graft", None
    ):
        return IcebergCatalog()
    return SnapshotCatalog(root)
