"""SparkSession factory with scale-aware defaults.

The reference runs one thread in one JVM over in-memory pages
(``PureJavaTest.java:12-20``). Our equivalent execution substrate is a Spark
session tuned so the same logical plans behave at both test scale
(local[32], ~600k rows) and target scale (1000 executors, ~100 TB):

  * AQE on — runtime coalescing of small shuffle partitions, skew-join
    splitting, and dynamic join-strategy switching are the 100 TB safety
    net for every groupBy/join we declare.
  * ``spark.sql.shuffle.partitions`` sized to cores locally; at cluster
    scale AQE's coalescing makes the initial number mostly a ceiling.
  * Arrow enabled — every pandas UDF (similarity search, multimodal
    decode) rides vectorized Arrow batches instead of pickled rows.
  * Session timezone pinned to UTC as a belt — but since r5 the queries
    no longer rely on it: batch event time is TIMESTAMP_NTZ end-to-end
    (tztime.py) and results are bit-identical under any session zone
    (tools/selfcheck.py --tz). The pin only matters for sessions WE
    create; the driver owns its own.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "presto_truffle_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    In local mode there is a single JVM; ``spark.driver.memory`` is the only
    memory knob. On a real cluster the same configs apply per-executor and
    AQE handles partition-size skew at runtime.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
