"""Catalog maintenance (sources/catalog.py): small-files compaction with
content-identity + rollback, time-travel reads, and snapshot expiry."""

import os

import pytest
from pyspark.sql import functions as F

from tabbyld_spark.sources.catalog import SnapshotCatalog


def _files(cat, table, snap):
    d = os.path.join(cat._table_dir(table), snap)
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def test_compaction_reduces_files_and_preserves_content(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).repartition(16)
    s0 = cat.write(df, "t")
    assert len(_files(cat, "t", s0)) == 16
    before = sorted((r.id, r.k) for r in cat.read(spark, "t").collect())

    s1 = cat.compact(spark, "t", target_rows_per_file=500)
    assert len(_files(cat, "t", s1)) == 2  # ceil(1000/500)
    after = sorted((r.id, r.k) for r in cat.read(spark, "t").collect())
    assert after == before
    man = cat.manifest("t")
    assert man["current"] == s1
    entry = next(h for h in man["history"] if h["snapshot"] == s1)
    assert entry["lineage"]["op"] == "compact"
    assert entry["lineage"]["source_snapshot"] == s0


def test_time_travel_reads_old_snapshot(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    s0 = cat.write(spark.range(10), "t")
    s1 = cat.write(spark.range(99), "t")
    assert cat.read(spark, "t").count() == 99
    assert cat.read_at(spark, "t", s0).count() == 10
    assert cat.read_at(spark, "t", s1).count() == 99
    with pytest.raises(FileNotFoundError):
        cat.read_at(spark, "t", "snap-999999")


def test_expire_keeps_current_and_marks_history(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    snaps = [cat.write(spark.range(i + 1), "t") for i in range(4)]
    expired = cat.expire_snapshots("t", keep_last=2)
    assert expired == snaps[:2]
    # current + the one before it still readable; older ones gone
    assert cat.read(spark, "t").count() == 4
    assert cat.read_at(spark, "t", snaps[2]).count() == 3
    for s in snaps[:2]:
        with pytest.raises(FileNotFoundError):
            cat.read_at(spark, "t", s)
    # lineage retained, marked expired
    man = cat.manifest("t")
    flags = {h["snapshot"]: h.get("expired", False) for h in man["history"]}
    assert flags == {snaps[0]: True, snaps[1]: True, snaps[2]: False, snaps[3]: False}
    # idempotent second expiry expires nothing new at the same keep_last
    assert cat.expire_snapshots("t", keep_last=2) == []


def test_expire_never_removes_current_even_at_keep_1(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write(spark.range(5), "t")
    s1 = cat.write(spark.range(6), "t")
    cat.expire_snapshots("t", keep_last=1)
    assert cat.manifest("t")["current"] == s1
    assert cat.read(spark, "t").count() == 6


# ---------------------------------------------------------------------------
# append-style commits (the O(delta) ledger path — plans/incdedup.py)
# ---------------------------------------------------------------------------


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def test_append_accretes_without_rewriting_prior_dirs(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    s0 = cat.write(_df(spark, [("a", 1), ("b", 2)]), "t")
    dir0 = os.path.join(str(tmp_path), "t", s0)
    before = {
        f: os.path.getmtime(os.path.join(dir0, f)) for f in os.listdir(dir0)
    }
    s1 = cat.append(_df(spark, [("c", 3)]), "t")
    # prior snapshot's files untouched — append wrote only the delta dir
    after = {
        f: os.path.getmtime(os.path.join(dir0, f)) for f in os.listdir(dir0)
    }
    assert after == before
    got = {(r.k, r.v) for r in cat.read(spark, "t").collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}
    man = cat.manifest("t")
    cur = next(h for h in man["history"] if h["snapshot"] == s1)
    assert cur["dirs"] == [s0, s1] and cur["rows"] == 3
    # time travel still sees the pre-append state
    assert cat.read_at(spark, "t", s0).count() == 2


def test_append_on_missing_table_is_initial_write(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.append(_df(spark, [("a", 1)]), "t")
    assert cat.read(spark, "t").count() == 1


def test_expire_keeps_dirs_referenced_by_append_snapshots(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    s0 = cat.write(_df(spark, [("a", 1)]), "t")
    cat.append(_df(spark, [("b", 2)]), "t")
    cat.append(_df(spark, [("c", 3)]), "t")
    expired = cat.expire_snapshots("t", keep_last=1)
    # s0/s1 snapshots expire, but their data dirs are REFERENCED by the
    # current append snapshot — reachability keeps them on disk
    assert len(expired) == 2
    assert os.path.isdir(os.path.join(str(tmp_path), "t", s0))
    assert cat.read(spark, "t").count() == 3


def test_compact_consolidates_append_chain(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    cat.write(_df(spark, [("a", 1)]), "t")
    cat.append(_df(spark, [("b", 2)]), "t")
    snap = cat.compact(spark, "t", target_rows_per_file=10)
    man = cat.manifest("t")
    cur = next(h for h in man["history"] if h["snapshot"] == snap)
    assert cur["dirs"] == [snap] and cur["rows"] == 2  # single-dir again
    # now the old chain is unreferenced and fully reclaimable
    cat.expire_snapshots("t", keep_last=1)
    assert cat.read(spark, "t").count() == 2


def test_expire_sweeps_dirs_kept_by_an_earlier_expiry(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path))
    s0 = cat.write(_df(spark, [("a", 1)]), "t")
    cat.append(_df(spark, [("b", 2)]), "t")
    s2 = cat.compact(spark, "t", target_rows_per_file=10)
    tdir = os.path.join(str(tmp_path), "t")
    # s0 expires, but the append snapshot s1 still lists its dir
    cat.expire_snapshots("t", keep_last=2)
    assert os.path.isdir(os.path.join(tdir, s0))
    # s1 expires: no live snapshot lists s0's dir any more, so it goes too
    cat.expire_snapshots("t", keep_last=1)
    assert sorted(d for d in os.listdir(tdir) if d.startswith("snap-")) == [s2]
    assert cat.read(spark, "t").count() == 2
