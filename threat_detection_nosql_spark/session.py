"""SparkSession factory tuned for both local testing and cluster scale.

The reference pipeline is single-process pandas + a Neo4j server
(SURVEY.md §3); here the execution engine is Spark itself, so the only
"setup" is a session with AQE + Arrow enabled and shuffle partitions
sized to the environment.

Generated-code cache: Spark keeps compiled codegen classes in one
JVM-global cache whose size (``spark.sql.codegen.cache.maxEntries``,
default 100) is read once, when the first session in the JVM first
compiles. One pass of the 12 headline queries compiles about 150
classes, so at the default every repeated pass evicts and recompiles
all of them (~1.5 s of Janino time per warm pass at sf0.1).
``CODEGEN_CACHE_ENTRIES`` is sized from the measured working set: a
sweep of every non-``formats`` registry query at sf0.01 compiles about
3,700 classes cold (4-core host, ``local[4]``), which 8192 holds with
room to spare. It is a static conf, so it is set on the builder; a
session created after another one in the same JVM cannot change it.
Vanilla driver-style sessions
(``scripts/check_all.py``, ``scripts/time_queries.py``) do not call
``get_spark`` and keep the default of 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# generated classes kept by the JVM-global codegen cache (module docstring)
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(app_name: str = "threat_detection_nosql_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local mode uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    master/memory settings come from spark-submit and these configs are
    harmless. AQE handles runtime coalescing and skew joins, so a fixed
    ``spark.sql.shuffle.partitions`` is only the upper bound pre-AQE.
    """
    n_shuffle = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", _DEFAULT_CPUS))
    builder = (
        SparkSession.builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = (builder
                   .master(f"local[{_DEFAULT_CPUS}]")
                   .config("spark.driver.memory",
                           os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
