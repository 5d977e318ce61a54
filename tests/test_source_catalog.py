"""The declared source catalog (``schemas.TABLES``).

Every parquet-sourced DataFrame is built from the declared schema, not
the file footer. These tests pin the three facts that make this safe:
the declarations match the footers at every scale factor, building a
headline query launches no Spark job, and the ``events.ts`` conversion
agrees with DuckDB at the edges.
"""

from __future__ import annotations

import os
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bench import HEADLINE_COLLECT, HEADLINE_COUNT
from tests.conftest import SF_DIR
from threat_detection_nosql_spark import schemas
from threat_detection_nosql_spark.operators.etl import (
    ACTIVITY_LOG_ORACLE_SQL,
    activity_log,
    derive_temporal_features,
)
from threat_detection_nosql_spark.queries import all_queries
from threat_detection_nosql_spark.sources.readers import load_table

TESTDATA = os.path.dirname(SF_DIR)
SCALE_FACTORS = ["sf0.001", "sf0.01", "sf0.1"]


@pytest.mark.parametrize("name", sorted(schemas.TABLES))
@pytest.mark.parametrize("sf", SCALE_FACTORS)
def test_footer_matches_declared_schema(spark, sf, name):
    # StructType equality covers names, order, types and nullability
    footer = spark.read.parquet(f"{TESTDATA}/{sf}/{name}.parquet").schema
    assert footer == schemas.TABLES[name]


@pytest.mark.parametrize("name", HEADLINE_COLLECT + HEADLINE_COUNT)
def test_headline_build_launches_no_job(spark, name):
    sc = spark.sparkContext
    group = f"build:{name}:{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, name)
    try:
        all_queries()[name](spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


_EDGE_EVENTS = """
SELECT event_id::BIGINT AS event_id, ts, 7::BIGINT AS user_id,
       'login' AS event_type, 1.5::DOUBLE AS value, '{"k": 1}' AS props
FROM (VALUES
    (1, TIMESTAMP_NS '1969-12-31 23:59:59.999999999'),  -- 1 ns pre-epoch
    (2, TIMESTAMP_NS '1969-12-31 23:59:59.999999'),     -- 1 us pre-epoch
    (3, TIMESTAMP_NS '1900-03-01 12:34:56.000000001'),
    (4, NULL::TIMESTAMP_NS),
    (5, TIMESTAMP_NS '1970-01-01 00:00:00'),
    (6, TIMESTAMP_NS '2024-01-01 00:00:11.172425'),     -- on a microsecond
    (7, TIMESTAMP_NS '2024-01-01 00:00:11.172425789'),  -- sub-microsecond
    (8, TIMESTAMP_NS '2024-03-10 23:30:00.5')
) t(event_id, ts)
"""


@pytest.mark.parametrize("session_tz", ["UTC", "America/Los_Angeles"])
def test_events_ts_edges_match_duckdb(spark, tmp_path, session_tz):
    con = duckdb.connect()
    path = tmp_path / "events.parquet"
    con.execute(f"COPY ({_EDGE_EVENTS}) TO '{path}' (FORMAT parquet)")
    want = con.sql(
        f"SELECT event_id, epoch_us(ts), hour(ts), isodow(ts) - 1 "
        f"FROM '{path}' ORDER BY event_id").fetchall()
    # a session whose zone is not UTC, as a caller-supplied one may be:
    # load_table must pin UTC, since DuckDB's read is zoneless
    sess = spark.newSession()
    sess.conf.set("spark.sql.session.timeZone", session_tz)
    ev = load_table(sess, str(tmp_path), "events")
    assert sess.conf.get("spark.sql.session.timeZone") == "UTC"
    got = [tuple(r) for r in derive_temporal_features(ev).select(
        "event_id", F.unix_micros("ts"), "hour_of_day", "day_of_week")
        .orderBy("event_id").collect()]
    assert got == want


def test_activity_log_null_ts_matches_oracle(spark, tmp_path):
    # a null timestamp has null hour/day, and neither temporal flag set
    con = duckdb.connect()
    path = tmp_path / "events.parquet"
    con.execute(f"COPY ({_EDGE_EVENTS} WHERE ts IS NULL) TO '{path}' "
                "(FORMAT parquet)")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    cols = ["event_id", "user", "pc", "activity", "resource", "value",
            "hour_of_day", "day_of_week", "is_weekend", "is_after_hours"]
    want = con.sql(f"SELECT {', '.join(cols)} "
                   f"FROM ({ACTIVITY_LOG_ORACLE_SQL})").fetchall()
    got = [tuple(r) for r in
           activity_log(spark, str(tmp_path)).select(*cols).collect()]
    assert want == [(4, 7, 4, "login", 1, 1.5, None, None, 0, 0)]
    assert got == want


def test_events_nanos_file_fails_loudly(spark, tmp_path):
    # the catalog declares microsecond NTZ; a TIMESTAMP(NANOS) file is
    # schema drift and must raise, never be coerced
    table = pa.table({
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([1_704_067_211_172_425_789], pa.timestamp("ns")),
        "user_id": pa.array([7], pa.int64()),
        "event_type": pa.array(["login"]),
        "value": pa.array([1.5]),
        "props": pa.array(['{"k": 1}']),
    })
    pq.write_table(table, tmp_path / "events.parquet",
                   coerce_timestamps=None)
    with pytest.raises(Exception, match=r"column \[ts\]"):
        load_table(spark, str(tmp_path), "events").collect()
