"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the sandbox (single JVM, ``local[N]``) but expressed the
way a 1000-executor cluster would want them: AQE on (runtime re-plan +
skew-join splitting), explicit shuffle-partition count, Arrow enabled for the
single pandas-UDF stage, and broadcast threshold high enough that the KG
dimension tables (labels/types/subclass closure) broadcast instead of
shuffling the fact side.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "tabbyld-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # AQE default OFF for local/bench runs: its sequential query-stage
    # materialization adds ~40% wall time to this many-stage pipeline at
    # local scale (measured: 102s → 55s at local[8], 10k pages).  On a real
    # multi-executor cluster with skewed web data, turn it ON
    # (SPARK_GRAFT_AQE=true) for runtime skew-join splitting + coalescing.
    aqe = os.environ.get("SPARK_GRAFT_AQE", "false")
    # shuffle + block-manager spill dir (SPARK_GRAFT_LOCAL_DIR, documented in
    # README; set it to "" to force Spark's default).  Unset, tmpfs is used
    # only when /dev/shm has generous headroom (≥ 16 GiB free): tmpfs pages
    # count against RAM/cgroup limits, so blindly defaulting there can turn
    # disk spill into ENOSPC or an OOM-kill on memory-constrained hosts; with
    # the headroom check it only kicks in on boxes like this one (128 GiB RAM,
    # 64 GiB /dev/shm) where shuffle volume per run is a few GiB and the boot
    # disk (~600 MB/s) is otherwise the scaling cap.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 16 * 1024**3:
            local_dir = "/dev/shm/spark-local"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16 MB: ~8x the largest real KG dimension (labels/types/subclass all
        # broadcast comfortably) while giving an 8x safety margin against
        # Catalyst mis-estimating a DERIVED frame as broadcastable — at 64 MB
        # a borderline under-estimate built a >heap broadcast at 160k pages
        # and killed the driver; unbounded feature frames are additionally
        # merge-hinted at the join sites (operators/features.py)
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        # deliberately MODEST heap (executor-realistic ~1 GiB/core): G1 with
        # a 20g heap grows a multi-GB young gen whose allocation span is
        # cache/TLB-hostile — measured 2.4x SLOWER (300s vs 127s, local[8],
        # 80k pages) than the same job on 8g; bigger is not better
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # compress serialized storage blocks (lz4): no-op for the default
        # deserialized lineage-cut level, required for the mem_ser level
        # (functions/lineage.py) to actually shrink block bytes
        .config("spark.rdd.compress", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # no Python call-site capture: with it on, every Column/DataFrame
        # call walks the Python stack (and the first one imports IPython and
        # retries a failing ipykernel import) — in a fresh local[4] session
        # on 4 vCPUs the first F.col took 0.28-0.31 s instead of 0.02-0.03 s,
        # and 300 select+filter builds 4.7-4.8 s instead of 2.7-3.7 s.  The
        # cost: PySpark error messages no longer name the Python line that
        # built the failing expression
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
