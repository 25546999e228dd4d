"""SparkSession factory with the engine's tuned configuration.

Scale posture (100 TB / 1000-executor design, tested on local[N]):
AQE on (skew-join splitting + partition coalescing), Arrow enabled for
every pandas UDF boundary, broadcast threshold sized for dimension
(polygon) tables.  Shuffle partition count defaults to max(8, N) on
local[N] (32 on local[*] or a master without a core count); on a real
cluster set it ~2-3x total executor cores or rely on AQE coalescing
from a higher initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # one Arrow batch per UDF call: big enough to amortize the JVM<->Python
    # hop and batch-boundary bookkeeping (measured on the flagship:
    # 65536 cuts both JVM scan time and refine increment vs 10000; the
    # PIP kernel chunks internally to stay cache-resident, so large
    # Arrow batches don't hurt the numpy side)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(app_name: str = "gdal_boots_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in ENGINE_CONF.items():
        b = b.config(k, v)
    if shuffle_partitions is None:
        # local[N] -> max(8, N), local[*] -> 32; a real cluster passes an explicit value
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = b.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    return b.getOrCreate()
