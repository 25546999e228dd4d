"""Token-budget shard packing for training pipelines.

Pretraining dataloaders consume fixed-token-budget shards; assigning
documents to shards must be deterministic and engine-portable so a
restarted (or re-implemented) pipeline produces the identical layout.

Contiguous packing in key order: documents are ordered by key, a
cumulative token sum runs over that order, and a document lands in
``shard = floor(cum_tokens_before / budget)`` — the standard
greedy-contiguous rule (a shard may overflow by at most one document,
never underfill).

Scale shape: a bare ``Window.orderBy`` would collapse ALL rows into a
single partition (Spark's global-window behavior) — a non-starter at
10^12 documents.  The operator instead (``range_offsets``, which
``sources.osm``'s dense fids share) (1) range-partitions by key and
sorts within partitions, (2) aggregates ONE tiny per-partition token
total to the driver (#partitions rows), (3) broadcasts the prefix
offsets back and runs the cumulative window PARTITIONED by
spark_partition_id.  Shuffle volume is (key, count) pairs only; the
result is identical to the global window and exactly expressible as
ANSI SQL — the DuckDB oracle asserts identical shard assignment.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import memo


def range_offsets(df: DataFrame, n: int, order: list, weight) -> DataFrame:
    """The scale-safe prefix sum over a global order: range-partition
    ``df`` into ``n`` partitions by the ``order`` columns, sort within
    partitions, and tag each row with its ``_pid``; ONE tiny aggregate
    of ``weight`` (an aggregate Column, e.g. ``F.count("*")``) per
    partition reaches the driver, and each partition's prefix offset —
    the total of every earlier partition — comes back as the ``_off``
    column.  A partition-local window plus ``_off`` then equals the
    global window.

    -> the range-partitioned rows with ``_pid`` and ``_off``.  They are
    read from a ``memo.persist`` copy, because the offsets are valid
    only for its partition boundaries; ``memo.clear()`` or the
    enclosing ``StageRunner`` stage frees it."""
    ranged = memo.persist(
        df.repartitionByRange(n, *order).sortWithinPartitions(*order).withColumn("_pid", F.spark_partition_id())
    )
    totals = {r["_pid"]: r["t"] for r in ranged.groupBy("_pid").agg(weight.alias("t")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += int(totals[pid])
    if not offsets:  # empty input: an untyped map() would fail analysis
        return ranged.withColumn("_off", F.lit(0).cast("long"))
    if len(offsets) <= 256:
        off_map = F.create_map(*[F.lit(v) for kv in sorted(offsets.items()) for v in kv])
        return ranged.withColumn("_off", F.coalesce(off_map[F.col("_pid")], F.lit(0)))
    # thousands of partitions would bloat the plan with a literal map;
    # ship the offsets as a broadcast dimension instead (an Arrow local
    # relation: no Python worker scans it)
    off_df = df.sparkSession.createDataFrame(
        pa.table(list(zip(*sorted(offsets.items()))), names=["_pid", "_off"]), "_pid int, _off long"
    )
    src = ranged.join(F.broadcast(off_df), "_pid", "left")
    return src.withColumn("_off", F.coalesce(F.col("_off"), F.lit(0)))


def pack_shards(
    docs: DataFrame, budget: int, key_col: str = "doc_id", tokens_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """-> (key, n_tokens, shard long).

    ``tokens_col``: an existing token-count column; None derives
    whitespace token counts from ``text`` (the engine's token_stats
    rule, functions/text_fns.py).  Keys must be UNIQUE: the output is
    then independent of where the range partitioner draws boundaries
    (the prefix-offset correction absorbs any split); duplicate keys
    straddling a boundary would make their relative order — and their
    shards — partitioning-dependent."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    if tokens_col is None:
        toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
        toks = F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0)).otherwise(toks)
    else:
        toks = F.col(tokens_col)
    n = num_partitions or docs.sparkSession.sparkContext.defaultParallelism
    out = docs.select(F.col(key_col), toks.cast("long").alias("n_tokens"))
    src = range_offsets(out, n, [F.col(key_col)], F.sum("n_tokens"))
    w = Window.partitionBy("_pid").orderBy(F.col(key_col)).rowsBetween(Window.unboundedPreceding, -1)
    cum_before = F.col("_off") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    # integer shard arithmetic (ADVICE r4): floor(double / budget)
    # loses ulps once cumulative tokens pass 2^53 (plausible at 10^12
    # docs); `div` stays in 64-bit integers end-to-end.  cum_before is
    # non-negative so floor == integer division.
    return src.select(
        key_col,
        "n_tokens",
        cum_before.cast("long").alias("_cum"),
    ).select(
        key_col, "n_tokens", F.expr(f"_cum div CAST({int(budget)} AS BIGINT)").alias("shard")
    )


def pack_oracle_sql(budget: int, key_sql: str = "doc_id", tokens_sql: str | None = None) -> str:
    """The exact ANSI-SQL equivalent (DuckDB oracle helper)."""
    if tokens_sql is None:
        tokens_sql = (
            "CASE WHEN len(trim(text)) = 0 THEN 0 "
            "ELSE len(string_split_regex(trim(text), '\\s+')) END"
        )
    return f"""
        SELECT {key_sql},
               CAST({tokens_sql} AS BIGINT) AS n_tokens,
               CAST(COALESCE(SUM(CAST({tokens_sql} AS BIGINT)) OVER (
                   ORDER BY {key_sql} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // CAST({budget} AS BIGINT) AS BIGINT) AS shard
        FROM documents
    """
