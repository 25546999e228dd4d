"""Scan-parallelism guard for derivation-heavy operators.

The sf seed tables are single small parquet files; Spark's file-split
planning (openCostInBytes floor, one row group) gives them ONE scan
partition, and an operator whose downstream explode/join amplifies the
seed 100x+ then runs the whole expansion on one task — bbox_join's
19M-row cover join measured 2.1 s single-task vs ~0.4 s spread
(guide §2.2; the CLAUDE.md seed gotcha, applied beyond the crossJoin
replication path that already handled it).

``spread_small_scan`` is gated by the ZERO-JOB stats read ``plan_bytes``
(the one the broadcast gate, operators.cover.fits_broadcast, reads too:
file sources report real bytes, derived plans inherit estimates,
LogicalRDD/driver-resident plans report UNKNOWN and are left alone) and
targets ~64 KiB of source bytes per task, capped at defaultParallelism:

* big cluster inputs already plan many partitions -> no-op (the gate
  compares against the planned partition count, so a well-partitioned
  10^12-row table never pays an extra exchange);
* tiny correctness-SF seeds stay at 1 partition -> no 32-empty-task
  scheduling tax (the createDataFrame gotcha);
* bench-SF seeds spread to O(defaultParallelism) before the expansion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# target source bytes per task for derivation-heavy consumers: small
# enough that a megabyte-scale seed spreads across the machine, large
# enough that correctness-SF seeds (tens of KiB) stay single-task
SPREAD_BYTES_PER_TASK = 1 << 16


def plan_bytes(df: DataFrame) -> int:
    """Zero-job size estimate of ``df``: Catalyst's optimized-plan
    ``stats().sizeInBytes``, the statistic Spark's own auto-broadcast
    threshold consults.  Unknown statistics (Long.MaxValue: a LogicalRDD
    from ``createDataFrame``, i.e. data that already sat on the driver)
    and an unreachable internal API both read as 0 bytes.

    An earlier one-aggregate-job probe cost ~0.5 s of scheduling latency
    per query build (a 10% flagship regression): this must run no job."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # internal API moved: never break the query
        return 0
    return 0 if size >= (1 << 62) else size


def spread_small_scan(df: DataFrame, per_task_bytes: int = SPREAD_BYTES_PER_TASK) -> DataFrame:
    """Round-robin repartition ``df`` when (and only when) its planned
    source is small-but-single-task and a heavy expansion follows."""
    size = plan_bytes(df)
    if size <= 0:  # unknown stats: driver-resident
        return df
    sc = df.sparkSession.sparkContext
    target = int(min(sc.defaultParallelism, size // per_task_bytes))
    if target <= 1:
        return df
    try:
        planned = df.rdd.getNumPartitions()
    except Exception:
        return df
    if planned >= target:
        return df
    return df.repartition(target)
