"""Lineage cuts for long chains and iterative loops.

Every multi-stage chain in the engine (flagship STI pipeline, fuzzy candidate
blocking, connected components, transitive closure) cuts lineage after the
stages it reuses, so Catalyst re-plans from materialized blocks instead of
re-deriving a many-join subtree several times.

Two cut mechanisms, one seam:

* ``localCheckpoint()`` (default) — blocks live on executors.  Fastest (no
  file I/O), but the blocks are unrecoverable on executor loss: a 100-TB run
  with node churn restarts the job from the last catalog commit rather than
  recomputing a stage (``plans/pipeline.py:run_pipeline_resumable`` bounds
  that blast radius to one stage table).  Blocks are stored serialized and
  lz4-compressed (``spark.rdd.compress`` from the session factory): a
  re-read pays a per-core decompress but moves several-fold fewer bytes
  over the shared memory bus (canonical: 332 MB → 51 MB at 80k pages).
  Measured faster than deserialized blocks at every tested width: −2.6%
  wall at 4 cores, −8% total bench at local[32].
* reliable ``checkpoint()`` (``SPARK_GRAFT_RELIABLE_CHECKPOINT=true``) —
  blocks are written to the configured checkpoint directory (HDFS/object
  store on a real cluster), so losing an executor only re-reads files.  The
  right setting for long-running churn-exposed clusters; costs one extra
  write+read of each cut frame.

Both mechanisms preserve the frame's output partitioning and ordering
(``LogicalRDD`` carries them through), so exchange-reuse arguments made at
the call sites hold under either flag value.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

ENV_FLAG = "SPARK_GRAFT_RELIABLE_CHECKPOINT"
ENV_DIR = "SPARK_GRAFT_CHECKPOINT_DIR"


def reliable_enabled() -> bool:
    return os.environ.get(ENV_FLAG, "").strip().lower() in {"1", "true", "yes"}


def cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: reliable ``checkpoint`` when the env flag is on
    (auto-configuring the checkpoint dir from ``SPARK_GRAFT_CHECKPOINT_DIR``
    if the session has none), else ``localCheckpoint``.  Falls back to local
    when the flag is on but no directory is configured anywhere — a silent
    hard failure deep in a chain would be worse than the weaker cut."""
    if reliable_enabled():
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            d = os.environ.get(ENV_DIR, "").strip()
            if d:
                sc.setCheckpointDir(d)
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=eager)
    # PySpark 4.x naming: MEMORY_AND_DISK is the *serialized* level (matches
    # Scala); the deserialized default is MEMORY_AND_DISK_DESER
    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)
