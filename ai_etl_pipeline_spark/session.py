"""SparkSession construction tuned for the engine.

The reference runs eagerly in a single pandas process
(``/root/reference/preprocess.py:22`` — ``low_memory=False`` whole-file
load). Here every pipeline is a lazy DataFrame plan executed by
Catalyst/Tungsten; the session config below is the scale story:

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting,
  so the same plan works at sf0.001 and at 100 TB. Cached frames are
  sized too (``canChangeCachedPlanOutputPartitioning``): without it a
  cache built over a shuffle keeps every ``spark.sql.shuffle.partitions``
  partition, so a 5,000-row frame ran 32 tasks per stage and its sinks
  wrote 32 files. The cost is that a cache may lose its hash layout.
  Where a later join relies on that layout (a loop that joins the same
  cache every round), pin it: ``repartition(<session shuffle
  partitions>, key)`` before ``cache()``. AQE never coalesces a
  partition count set explicitly.
- Arrow on: every pandas_udf / toPandas boundary is vectorized.
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled``): with it on, PySpark
  wraps every ``Column`` method and ``functions`` call in a conf read
  and two JVM round trips that record the Python call site, and imports
  IPython on the first one. Under cProfile (PySpark 4.1.2), one cold pass of the
  5,000-row expense pipeline made 231 such calls; turning the capture
  off cut its py4j round trips from 6,172 to 3,862 and its Python calls
  from 981k to 424k. The cost is that an analysis error no longer names
  the Python line of the DataFrame call that caused it; the error
  itself is unchanged.
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly number but
  is explicitly overridable for cluster deployments (set it to ~2-3x the
  executor-core count; AQE coalesces the excess).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_session(
    app_name: str = "ai-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster, pass ``master=None`` and let spark-submit decide;
    locally we default to ``local[N]`` with N from $SPARK_GRAFT_CPUS.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
