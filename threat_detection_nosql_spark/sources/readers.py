"""Sources (SURVEY.md §2.1 S1–S3).

The reference eagerly materializes a CSV into driver RAM
(`data_preprocessing.py:12`); here every source is a lazy DataFrame scan.
Parquet scans take their schema from the ``schemas.TABLES`` catalog
instead of the file footer, so building a DataFrame launches no Spark
job; CSV scans use an explicit schema instead of inference.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from threat_detection_nosql_spark import schemas


def _session_typed(spark: SparkSession, name: str, df: DataFrame) -> DataFrame:
    """`events.ts` is stored as TIMESTAMP(MICROS) without UTC
    adjustment, which Spark reads as TIMESTAMP_NTZ. Cast it to the
    session-zoned type every downstream temporal function (unix_micros,
    window, watermark) expects; the cast interprets the NTZ wall-clock
    in the session timezone and DuckDB's read is zoneless, so parity
    needs UTC. ``session.timeZone`` is runtime-settable, so it is pinned
    here rather than trusting the host JVM default."""
    if name != "events":
        return df
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one testdata table (S1 analog) with its
    declared ``schemas.TABLES`` schema."""
    from threat_detection_nosql_spark.deploy import ensure_package_on_workers
    ensure_package_on_workers(spark)
    df = (spark.read.schema(schemas.TABLES[name])
          .parquet(os.path.join(sf_dir, f"{name}.parquet")))
    return _session_typed(spark, name, df)


def load_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-stream twin of load_table: the same declared schema and
    ``events.ts`` conversion, one file of ``sf_dir`` as the source."""
    df = (spark.readStream.schema(schemas.TABLES[name])
          .option("pathGlobFilter", f"{name}.parquet")
          .parquet(sf_dir))
    return _session_typed(spark, name, df)


def load_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n)
            for n in (names or schemas.TABLES)}


def read_activity_csv(spark: SparkSession, path: str) -> DataFrame:
    """Reference-shaped CSV scan (S1, `data_preprocessing.py:12`).

    Explicit schema (no pandas-style inference); `timestamp` is read as a
    string and parsed downstream with null-on-invalid semantics (S2) to
    mirror ``pd.to_datetime(errors='coerce')``.
    """
    return spark.read.csv(path, header=True, schema=schemas.ACTIVITY_LOG_RAW)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp views for the SQL API, one per testdata table."""
    for name in schemas.TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


_spread_memo: dict[tuple, bool] = {}


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition IFF the plan currently has fewer input
    partitions than cores. At real scale (100 TB = tens of thousands of
    parquet splits) this is a no-op; it exists because a single small
    parquet file scans as ONE partition, serializing per-row-heavy
    operators (minhash signatures, n-gram explosions, SRP dot products)
    onto one core at test scale. Only those CPU-bound operators call
    it — plain relational queries never pay the extra exchange.

    The partition-count probe (``df.rdd.getNumPartitions()``) forces an
    RDD plan conversion, so its verdict is memoized per (application,
    analyzed-plan ``semanticHash``, target) — repeat calls on the same
    logical plan (every registered query rebuilds identical scans) skip
    the conversion. A hash collision could only mis-route the
    repartition decision (perf, never correctness), and dead
    applications' keys are evicted on the next call."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    key = (sc.applicationId, df.semanticHash(), target)
    if key not in _spread_memo:
        for k in [k for k in _spread_memo if k[0] != sc.applicationId]:
            _spread_memo.pop(k)
        _spread_memo[key] = df.rdd.getNumPartitions() < target
    return df.repartition(target) if _spread_memo[key] else df
