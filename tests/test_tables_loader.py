"""The loader's fixed cost per query: schema reuse and call-site RPCs.

A session infers each table's parquet schema once
(``sources.readers.read_parquet``); a later load of the unchanged file
starts no Spark job, so a second build of a relational query starts
none either. Jobs are counted with the DAG scheduler's counter, which
the submitting thread advances before a job runs.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdataprojectspring16_spark import QUERIES
from bigdataprojectspring16_spark.sources import readers
from bigdataprojectspring16_spark.tables import load_table, table_path

from .conftest import SF_DIR, SF_SMALL


def jobs_started(spark, fn):
    """(fn's result, Spark jobs started while it ran)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.numTotalJobs()
    out = fn()
    return out, dag.numTotalJobs() - before


def test_second_load_starts_no_job(spark):
    first = load_table(spark, SF_DIR, "lineitem")
    second, jobs = jobs_started(spark, lambda: load_table(spark, SF_DIR, "lineitem"))
    assert jobs == 0
    assert second.schema == first.schema


@pytest.mark.parametrize("key", ["tpch_q6_revenue_delta", "join_multiway_star"])
def test_second_build_starts_no_job(spark, key):
    QUERIES[key](spark, SF_DIR)
    _, jobs = jobs_started(spark, lambda: QUERIES[key](spark, SF_DIR))
    assert jobs == 0


def test_each_load_is_a_fresh_relation(spark):
    # Reusing the schema must not reuse the relation: a self-join needs
    # distinct attribute ids on its two sides.
    a = load_table(spark, SF_DIR, "nation")
    b = load_table(spark, SF_DIR, "nation")
    ids = [str(df._jdf.queryExecution().analyzed().output()) for df in (a, b)]
    assert ids[0] != ids[1]
    per_region = [r["count"] for r in a.groupBy("n_regionkey").count().collect()]
    assert a.join(b, a.n_regionkey == b.n_regionkey).count() == sum(n * n for n in per_region)


def test_session_turns_call_site_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_fixture_ts_normalized_on_every_load(spark):
    # The fixtures store events.ts as a naive µs timestamp, which
    # reads as TIMESTAMP_NTZ; the loader casts it to TIMESTAMP.
    raw = spark.read.parquet(table_path(SF_DIR, "events"))
    assert dict(raw.dtypes)["ts"] == "timestamp_ntz"
    loads = [load_table(spark, SF_DIR, "events") for _ in range(2)]
    for df in loads:
        assert dict(df.dtypes)["ts"] == "timestamp"
    spans = [df.agg(F.min("ts"), F.max("ts")).first() for df in loads]
    assert spans[0] == spans[1]


def test_nanos_ts_normalized_on_every_load(spark, tmp_path):
    # TIMESTAMP(NANOS) reads as bigint nanos (nanosAsLong); the loader
    # truncates it to a µs TIMESTAMP, on the reused schema too.
    sf = str(tmp_path)
    nanos = 1_704_067_200_123_456_789
    pq.write_table(
        pa.table({"ts": pa.array([nanos], pa.timestamp("ns"))}), table_path(sf, "events")
    )
    assert dict(spark.read.parquet(table_path(sf, "events")).dtypes)["ts"] == "bigint"
    for _ in range(2):
        df = load_table(spark, sf, "events")
        assert df.dtypes == [("ts", "timestamp")]
        assert df.select(F.unix_micros("ts")).first()[0] == nanos // 1000


def test_rewritten_file_is_reinferred(spark, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "region")
    con = duckdb.connect()
    con.execute(f"COPY (SELECT 1::INTEGER AS a) TO '{path}' (FORMAT PARQUET)")
    assert load_table(spark, sf, "region").columns == ["a"]
    con.execute(f"COPY (SELECT 'x' AS b, 2::BIGINT AS c) TO '{path}' (FORMAT PARQUET)")
    con.close()
    df, jobs = jobs_started(spark, lambda: load_table(spark, sf, "region"))
    assert jobs == 1
    assert df.dtypes == [("b", "string"), ("c", "bigint")]
    assert df.first() == ("x", 2)


def test_rewritten_directory_is_reinferred(spark, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "nation")
    spark.range(3).write.parquet(path)
    assert load_table(spark, sf, "nation").columns == ["id"]
    spark.range(2).select(F.col("id").cast("string").alias("name")).write.mode(
        "overwrite"
    ).parquet(path)
    df = load_table(spark, sf, "nation")
    assert df.dtypes == [("name", "string")]
    assert sorted(r.name for r in df.collect()) == ["0", "1"]


def test_zero_row_directory_table_reused(spark, tmp_path):
    # The layout tests/test_empty_inputs.py builds: a Spark-written
    # directory whose events.ts is already a timestamp.
    sf = str(tmp_path)
    load_table(spark, SF_SMALL, "events").limit(0).coalesce(1).write.parquet(
        table_path(sf, "events")
    )
    assert os.path.isdir(table_path(sf, "events"))
    first = load_table(spark, sf, "events")
    second, jobs = jobs_started(spark, lambda: load_table(spark, sf, "events"))
    assert jobs == 0
    assert second.dtypes == first.dtypes
    assert dict(second.dtypes)["ts"] == "timestamp"
    assert second.count() == 0


def test_second_session_infers_for_itself(spark):
    load_table(spark, SF_DIR, "region")
    other = spark.newSession()
    assert other not in readers._PARQUET_SCHEMAS
    _, jobs = jobs_started(other, lambda: load_table(other, SF_DIR, "region"))
    assert jobs == 1
    _, jobs = jobs_started(other, lambda: load_table(other, SF_DIR, "region"))
    assert jobs == 0
