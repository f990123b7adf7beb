"""Size-gated broadcast helper."""

from pyspark.sql import functions as F

from tabbyld_spark.functions.joins import adaptive_broadcast, parse_byte_conf, plan_size_estimate


def test_parse_byte_conf():
    assert parse_byte_conf("10485760") == 10 * 1024**2
    assert parse_byte_conf("64m") == 64 * 1024**2
    assert parse_byte_conf("1g") == 1024**3
    assert parse_byte_conf("-1") == -1
    assert parse_byte_conf("10485760b") == 10 * 1024**2


def test_adaptive_broadcast_both_branches(spark):
    big = spark.range(0, 10_000).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("v")
    )
    small = spark.range(0, 50).select(F.col("id").alias("k"), F.lit("x").alias("w"))
    est_small = plan_size_estimate(small)
    est_big = plan_size_estimate(big)
    assert 0 < est_small < est_big

    # below threshold → hinted plan contains a broadcast exchange
    hinted = big.join(adaptive_broadcast(small, threshold_bytes=est_small + 1), "k")
    assert "Broadcast" in hinted._jdf.queryExecution().executedPlan().toString()

    # above threshold → no hint added by the helper (plain frame returned)
    gated = adaptive_broadcast(big, threshold_bytes=1)
    assert gated is big

    # results identical either way
    a = sorted(r["k"] for r in big.join(adaptive_broadcast(small, threshold_bytes=est_small + 1), "k").collect())
    b = sorted(r["k"] for r in big.join(adaptive_broadcast(small, threshold_bytes=1), "k").collect())
    assert a == b

    # broadcast disabled (-1) → never hint
    assert adaptive_broadcast(small, threshold_bytes=-1) is small


def test_adaptive_broadcast_non_credible_estimate(spark):
    """An aggregate-of-joins carries a multiplied, astronomically inflated
    size estimate; the gate must treat it as unknown (keep the hint) or use
    the credible proxy — never silently demote the tiny dim to a shuffle."""
    from pyspark.sql import functions as F2

    # spark.range carries credible stats; tuple-list createDataFrame is
    # RDD-backed (sizeInBytes = Long.MaxValue, correctly deemed not credible)
    base = spark.range(0, 100).select(
        F2.col("id").alias("k"), F2.concat(F2.lit("s"), F2.col("id")).alias("s")
    )
    j = base.alias("a").join(base.alias("b"), "k").join(base.alias("c"), "k")
    agg = j.groupBy("k").agg(F2.count(F2.lit(1)).alias("n"))
    est = plan_size_estimate(agg)
    if est > 1 << 50:  # the motivating condition (holds without CBO stats)
        hinted = adaptive_broadcast(agg, threshold_bytes=10)
        assert hinted is not agg  # kept the hint despite tiny threshold
    # with a credible proxy the gate applies to the proxy's size
    assert adaptive_broadcast(agg, threshold_bytes=1, proxy=base) is agg
    assert adaptive_broadcast(agg, threshold_bytes=1 << 40, proxy=base) is not agg

