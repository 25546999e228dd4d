"""Explicit skew handling: hot-key salted joins.

north_rule: "skew is handled explicitly with salted repartitioning on
hot H3 cells" (+ AQE for residual skew, enabled in session.py).

``salted_join`` is the generic pattern (SURVEY §4.2): count keys on the
probe side, pick keys above a hotness
threshold, split the probe side's hot rows across S salts and explode
the build side's hot rows x S.  The result is row-identical to a plain
inner equi-join while the hot key's work spreads over S reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key: str, threshold: int) -> DataFrame:
    """Keys whose row count exceeds `threshold`."""
    return df.groupBy(key).agg(F.count("*").alias("n")).where(F.col("n") > threshold).select(key)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt: int = 8,
    hot_threshold: int = 100_000,
) -> DataFrame:
    """Equi-join `big ⋈ small` on `key`, salting hot keys S ways: the
    keys of `big` with more than `hot_threshold` rows (join_salting)."""
    return join_salting(big, small, key, hot_keys(big, key, hot_threshold), salt)


def join_salting(big: DataFrame, small: DataFrame, key: str, hot: DataFrame, salt: int) -> DataFrame:
    """Equi-join `big ⋈ small` on `key`, salting the keys `hot` lists S
    ways.

    big rows on hot keys get salt = pmod(hash(row), S); small rows on
    hot keys are exploded to all S salts, others ride salt 0.  Result
    rows are exactly those of the unsalted join for ANY key set, so a
    caller whose `big` is costly to compute twice may count its hot
    keys on a cheaper relation.
    """
    hot = hot.withColumn("_hot", F.lit(True))

    b = big.join(F.broadcast(hot), key, "left")
    b = b.withColumn(
        "_salt",
        F.when(F.col("_hot").isNotNull(), F.pmod(F.hash(*[F.col(c) for c in big.columns]), F.lit(salt))).otherwise(
            F.lit(0)
        ),
    ).drop("_hot")

    s = small.join(F.broadcast(hot), key, "left")
    s = s.withColumn(
        "_salt",
        F.when(F.col("_hot").isNotNull(), F.sequence(F.lit(0), F.lit(salt - 1))).otherwise(F.array(F.lit(0))),
    ).drop("_hot")
    s = s.withColumn("_salt", F.explode("_salt"))

    return b.join(s, [key, "_salt"]).drop("_salt")
