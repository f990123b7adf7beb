"""Property test: snapshot-catalog reachability (sources/catalog.py).

Random sequences of write / append / compact / expire_snapshots on a
one-row-per-commit table; after every step the catalog must be readable,
return exactly the current rows, and hold on disk exactly the data dirs its
live snapshots list — nothing dangling, nothing leaked."""

from __future__ import annotations

import os
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tabbyld_spark.sources.catalog import SnapshotCatalog

# one step = a commit, then optionally expire_snapshots(keep_last) — pairing
# them makes the interleavings that strand a dir (an append keeps an expired
# snapshot's dir alive, a later expiry drops that append) common enough for
# a 15-example search to hit
_step = st.tuples(
    st.sampled_from(["write", "append", "compact"]),
    st.sampled_from([None, 1, 2]),
)


@given(steps=st.lists(_step, min_size=3, max_size=4))
@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    database=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_catalog_reachability(spark, tmp_path, steps):
    cat = SnapshotCatalog(tempfile.mkdtemp(dir=tmp_path))
    tdir = cat._table_dir("t")
    rows: list[int] = []
    for i, (op, keep) in enumerate([("write", None)] + steps):
        one_row = spark.range(i, i + 1, 1, 1)
        if op == "write":
            cat.write(one_row, "t")
            rows = [i]
        elif op == "append":
            cat.append(one_row, "t")
            rows = rows + [i]
        else:
            cat.compact(spark, "t")
        if keep is not None:
            cat.expire_snapshots("t", keep_last=keep)
        man = cat.manifest("t")
        listed = {
            d for h in man["history"] if not h.get("expired")
            for d in SnapshotCatalog._entry_dirs(h)
        }
        on_disk = {d for d in os.listdir(tdir) if d.startswith("snap-")}
        assert listed <= on_disk, (i, op, keep, "dangling", listed - on_disk)
        assert on_disk <= listed, (i, op, keep, "leaked", on_disk - listed)
        assert sorted(r.id for r in cat.read(spark, "t").collect()) == rows
