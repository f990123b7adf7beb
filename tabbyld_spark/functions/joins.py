"""Join-strategy helpers.

``adaptive_broadcast`` is the size-gated broadcast hint the candidate lookup
and gazetteer joins use: the reference resolves each value against a remote
SPARQL endpoint one query at a time (/root/reference/commands/
SpreadsheetController.php:80-125), so it never faces the question — but a
10^12-document pipeline joining mentions against a surface-form dictionary
must pick between broadcast (dictionary fits executor memory) and shuffle
(it does not).  An unconditional ``F.broadcast`` hint OOMs the driver the day
the dictionary outgrows memory; dropping the hint entirely forfeits the
broadcast even when Catalyst's stats under-estimate an in-memory relation.
The gate reads the optimizer's own size estimate (no job is run) and hints
only below the session broadcast threshold.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_UNITS = {"b": 1, "k": 1024, "kb": 1024, "m": 1024**2, "mb": 1024**2,
          "g": 1024**3, "gb": 1024**3, "t": 1024**4, "tb": 1024**4}


def parse_byte_conf(value: str) -> int:
    """Spark size-conf string ('64m', '10485760b', '-1') → bytes."""
    v = value.strip().lower()
    for suffix in sorted(_UNITS, key=len, reverse=True):
        if v.endswith(suffix):
            return int(float(v[: -len(suffix)]) * _UNITS[suffix])
    return int(v)


def plan_size_estimate(df: DataFrame) -> int:
    """Catalyst's sizeInBytes statistic for the optimized plan (driver-side
    metadata only — runs no job; parquet sources use file-footer stats,
    in-memory relations use the serialized batch estimate)."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(str(stats.sizeInBytes()))


# Above this, a plan-size estimate is treated as NOT CREDIBLE rather than
# large: without CBO column stats Catalyst sizes an aggregate/join subtree by
# multiplying child estimates, which yields astronomically inflated numbers
# (measured 5e30 "bytes" for a 3-join gazetteer whose true size is ~20 KB).
# Gating on such a number silently demotes a tiny dimension to a shuffle join
# — a measured 3x wall-time regression on the pipeline.  1 PiB is far beyond
# any broadcastable relation AND far below the bogus multiplied estimates.
_CREDIBLE_MAX = 1 << 50


def adaptive_broadcast(
    df: DataFrame,
    threshold_bytes: int | None = None,
    proxy: DataFrame | None = None,
    assume_small: bool = False,
) -> DataFrame:
    """Return ``broadcast(df)`` when the plan-size estimate fits under the
    (session) broadcast threshold, else ``df`` unchanged so the join planner
    falls back to a shuffle join.  Threshold -1 (broadcast disabled) always
    returns the un-hinted frame.

    ``proxy``: frame whose (credible) stats bound ``df``'s size — use the
    base dimension scan when ``df`` is an aggregate/join derivation of it,
    since derived plans carry multiplied, non-credible estimates.  When no
    credible estimate exists at all the gate FAILS CLOSED (un-hinted frame →
    shuffle join): force-broadcasting an unknown-size frame is exactly the
    driver-OOM this helper exists to prevent.  ``assume_small=True`` restores
    the old fail-open behavior for callers that can vouch for the frame."""
    if threshold_bytes is None:
        conf = df.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10485760"
        )
        threshold_bytes = parse_byte_conf(conf)
    if threshold_bytes < 0:
        return df
    est = None
    for frame in (df, proxy):
        if frame is None:
            continue
        try:
            cand = plan_size_estimate(frame)
        except Exception:
            continue
        if 0 <= cand <= _CREDIBLE_MAX:
            est = cand
            break
    if est is None:
        return F.broadcast(df) if assume_small else df
    return F.broadcast(df) if est <= threshold_bytes else df


# Conservative broadcast-build bytes per narrow feature row (two 64-bit keys
# + one or two doubles, plus HashedRelation row/pointer overhead).  Chosen
# high: over-estimating only demotes a borderline broadcast to sort-merge.
ROW_BYTES_NARROW = 64

# Broadcast cap for a build side whose size is known from an exact count:
# 64 MB estimated build ⇒ ~1M narrow rows
COUNT_BROADCAST_MAX = 64 * 1024 * 1024


def count_gated_hint(
    df: DataFrame,
    n_rows: int | None,
    row_bytes: int = ROW_BYTES_NARROW,
) -> DataFrame:
    """Broadcast-vs-merge decision from an EXACT row count (not a plan
    estimate): callers that already materialized an upstream stage know the
    row count of a derived frame precisely, which is strictly better
    information than Catalyst's multiplied estimates.  Because the count is
    exact, the cap can sit well above the session broadcast threshold
    (``COUNT_BROADCAST_MAX``, 64 MB estimated build size) without the
    mis-estimate OOM risk the session threshold guards against.  Unknown
    count ⇒ fail closed to sort-merge: the un-hinted planner would consult
    exactly the non-credible estimates this helper bypasses."""
    if n_rows is not None and n_rows * row_bytes <= COUNT_BROADCAST_MAX:
        return F.broadcast(df)
    return df.hint("merge")


@contextmanager
def loop_shuffle_width(sess, n_rows: int, rows_per_partition: int = 10_000):
    """Temporarily size ``spark.sql.shuffle.partitions`` to the data an
    iterative loop actually shuffles.  Driver-side convergence loops
    (connected components, transitive closure) re-pay per-task scheduling
    overhead every round, so a loop over a few-hundred-row frame must not
    run session-width stages; a web-scale run keeps the session setting
    (the width only ever narrows).  When AQE is enabled its partition
    coalescing already solves this — the conf is left untouched; the check
    reads the EFFECTIVE value (no caller-supplied default) so Spark's own
    built-in default (true since 3.2) applies when the key was never set
    explicitly.  Restores the previous value on exit; the narrowed value is
    only observed by jobs the loop itself triggers (eager checkpoints),
    never by the caller's downstream actions.  The conf mutation is
    session-global: this helper assumes the single-driver-loop pattern
    (one iterative algorithm planning at a time on the session) — do not
    wrap it around loops that interleave planning with concurrent jobs on
    a shared session."""
    prev = int(sess.conf.get("spark.sql.shuffle.partitions"))
    try:
        aqe_val = sess.conf.get("spark.sql.adaptive.enabled")
    except Exception:  # pre-3.2 builds without a built-in default
        aqe_val = "false"
    aqe_on = str(aqe_val).lower() == "true"
    width = prev if aqe_on else max(4, min(prev, n_rows // rows_per_partition + 1))
    if width != prev:
        sess.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        yield width
    finally:
        if width != prev:
            sess.conf.set("spark.sql.shuffle.partitions", str(prev))
