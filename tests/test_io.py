"""The source layer reads schemas from parquet footers: no Spark job per
table, the schema Spark would infer, and TIMESTAMP(NANOS) columns read
the same way by the batch and the stream reader."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet_importer_spark.io import (
    TABLES,
    read_all,
    read_stream,
    read_table,
    table_path,
    table_schema,
)

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", TABLES)
def test_footer_schema_is_the_inferred_schema(spark, sf_dir, table):
    path = table_path(sf_dir, table)
    assert table_schema(path) == spark.read.parquet(path).schema


def test_nanos_timestamps_read_as_micros_by_batch_and_stream(spark, tmp_path):
    """With ``nanosAsLong`` off, as in a session ``get_spark`` did not
    build: Spark rejects TIMESTAMP(NANOS) only when it infers the schema,
    and both readers pass the footer's."""
    from pyspark.errors import AnalysisException

    from parquet_importer_spark.suite.streaming import _drain_to_memory

    nanos = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, None]
    table = pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array(nanos, pa.timestamp("ns")),
    })
    pq.write_table(table, str(tmp_path / "nanos.parquet"))
    path = table_path(str(tmp_path), "nanos")
    want = [(1, 1_700_000_000_123_456), (2, 1_700_000_001_000_000), (3, None)]

    def micros(df):
        rows = df.select("id", F.unix_micros("ts").alias("us")).orderBy("id").collect()
        return [tuple(r) for r in rows]

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            spark.read.parquet(path).schema
        assert micros(read_table(spark, str(tmp_path), "nanos")) == want
        assert micros(_drain_to_memory(read_stream(spark, path), "append")) == want
    finally:
        spark.conf.set(key, before)


def test_read_all_runs_no_spark_job(spark, tmp_path):
    """Cold caches (a copy of the tables at new paths): every table's
    schema comes from its footer, so reading all of them schedules
    nothing; Spark's schema inference would run one job per table."""
    for t in TABLES:
        shutil.copy(table_path("/root/testdata/sf0.001", t), table_path(str(tmp_path), t))
    sc = spark.sparkContext
    group = "read_all_cold"
    sc.setJobGroup(group, "read_all on a copy of sf0.001")
    try:
        frames = read_all(spark, str(tmp_path))
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sorted(frames) == sorted(TABLES)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_directory_schema_is_its_first_data_files(tmp_path):
    events = table_path("/root/testdata/sf0.001", "events")
    shutil.copy(events, tmp_path / "part-0.parquet")
    (tmp_path / "_SUCCESS").touch()
    assert table_schema(str(tmp_path)) == table_schema(events)
