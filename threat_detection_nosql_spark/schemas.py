"""Explicit StructTypes for every table the engine reads.

The reference relies on pandas dtype inference (`data_preprocessing.py:12`);
here each schema is declared once. ``TABLES`` is the source catalog:
``sources.readers.load_table`` and the stream sources hand it to the
parquet reader, so building a DataFrame reads no footer and launches no
Spark job, and Catalyst prunes columns against a known ReadSchema
(SURVEY.md §1.5). ``tests/test_source_catalog.py`` asserts every footer
equals its declaration at each scale factor, so drift fails loudly
instead of being coerced.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---- driver testdata tables (FIXTURES.md §1) --------------------------------
# The datetime columns (o_orderdate, l_shipdate, events.ts) are stored as
# TIMESTAMP(MICROS) without UTC adjustment, which Spark types as
# TIMESTAMP_NTZ; load_table casts ``events.ts`` to a session-zoned timestamp.

REGION = T.StructType([
    T.StructField("r_regionkey", T.IntegerType()),
    T.StructField("r_name", T.StringType()),
])

NATION = T.StructType([
    T.StructField("n_nationkey", T.IntegerType()),
    T.StructField("n_name", T.StringType()),
    T.StructField("n_regionkey", T.IntegerType()),
])

CUSTOMER = T.StructType([
    T.StructField("c_custkey", T.LongType()),
    T.StructField("c_name", T.StringType()),
    T.StructField("c_nationkey", T.IntegerType()),
    T.StructField("c_acctbal", T.DoubleType()),
    T.StructField("c_mktsegment", T.StringType()),
])

SUPPLIER = T.StructType([
    T.StructField("s_suppkey", T.LongType()),
    T.StructField("s_name", T.StringType()),
    T.StructField("s_nationkey", T.IntegerType()),
    T.StructField("s_acctbal", T.DoubleType()),
])

PART = T.StructType([
    T.StructField("p_partkey", T.LongType()),
    T.StructField("p_name", T.StringType()),
    T.StructField("p_brand", T.StringType()),
    T.StructField("p_type", T.StringType()),
    T.StructField("p_size", T.IntegerType()),
    T.StructField("p_retailprice", T.DoubleType()),
])

ORDERS = T.StructType([
    T.StructField("o_orderkey", T.LongType()),
    T.StructField("o_custkey", T.LongType()),
    T.StructField("o_orderstatus", T.StringType()),
    T.StructField("o_totalprice", T.DoubleType()),
    T.StructField("o_orderdate", T.TimestampNTZType()),
    T.StructField("o_orderpriority", T.StringType()),
])

LINEITEM = T.StructType([
    T.StructField("l_orderkey", T.LongType()),
    T.StructField("l_partkey", T.LongType()),
    T.StructField("l_suppkey", T.LongType()),
    T.StructField("l_linenumber", T.IntegerType()),
    T.StructField("l_quantity", T.DoubleType()),
    T.StructField("l_extendedprice", T.DoubleType()),
    T.StructField("l_discount", T.DoubleType()),
    T.StructField("l_tax", T.DoubleType()),
    T.StructField("l_returnflag", T.StringType()),
    T.StructField("l_linestatus", T.StringType()),
    T.StructField("l_shipdate", T.TimestampNTZType()),
])

EVENTS = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

DOCUMENTS = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])

EMBEDDINGS = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("label", T.IntegerType()),
])

TABLES: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}

# ---- reference activity-log schema (SURVEY.md §1.1) -------------------------
# Raw CSV columns of the reference's demo_multi_activity_logs CSV
# (`data_preprocessing.py:12-28`): timestamp parsed with null-on-invalid.

ACTIVITY_LOG_RAW = T.StructType([
    T.StructField("timestamp", T.StringType()),
    T.StructField("user", T.StringType()),
    T.StructField("pc", T.StringType()),
    T.StructField("activity", T.StringType()),
    T.StructField("resource", T.StringType()),
])

# Per-user feature matrix (`neo4j_analysis.py:177-185,216,243`; FIXTURES.md §3)
USER_FEATURES = T.StructType([
    T.StructField("user", T.LongType()),
    T.StructField("total_activities", T.LongType()),
    T.StructField("after_hours_activities", T.LongType()),
    T.StructField("weekend_activities", T.LongType()),
    T.StructField("unique_systems", T.LongType()),
    T.StructField("unique_resources", T.LongType()),
    T.StructField("activity_types", T.LongType()),
    T.StructField("after_hours_ratio", T.DoubleType()),
    T.StructField("weekend_ratio", T.DoubleType()),
    T.StructField("activity_entropy", T.DoubleType()),
    T.StructField("temporal_entropy", T.DoubleType()),
])
