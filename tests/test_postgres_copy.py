"""Live Postgres COPY-sink integration (sources/postgres_copy).

Unlike test_postgis_live.py (which needs an externally provided
PostGIS server and skips here), these tests run LIVE in this image:
the harness initdb's a scratch Postgres 15 cluster (socket-only,
trust) once per session and tears it down at exit. Covered: the three
reference write modes, full-content round-trip fidelity, per-type CSV
↔ Postgres encoding (nulls, decimals, timestamps, dates, booleans,
bytea, ``\\N`` and empty text, NaN/±inf, int64 beyond 2^53), empty
input, the server's error surfacing, and parallel multi-partition COPY
streams. ``test_arrow_csv_contract`` needs neither Spark nor Postgres:
it pins the pyarrow CSV rendering the sink's COPY options rely on.

The sink has two load paths (see ``postgres_copy.copy_into_postgres``):
each data pin that a parquet file can carry also runs as a
``*_parquet_path`` variant over a pyarrow-written file; the gate between
the paths is pinned case by case; and the two paths must load the same
content for every sf0.01 table the gate accepts.
"""

from __future__ import annotations

import datetime
import io
import re
import time
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyarrow import csv as pa_csv
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from parquet_importer_spark.io import read_table
from parquet_importer_spark.sources.postgres_copy import (
    _BATCH_ROWS,
    _load_frame,
    _parquet_splits,
    _run_psql,
    copy_into_postgres,
    read_back,
    scratch_server,
)


@pytest.fixture(scope="module")
def dsn():
    d = scratch_server()
    if d is None:
        pytest.skip("no startable Postgres in this environment")
    return d


def _count(dsn, table: str) -> int:
    return int(_run_psql(dsn, f"SELECT COUNT(*) FROM {table}").strip())


def _fast_splits(df, num_partitions=None):
    """The gate's verdict on ``df`` as ``copy_into_postgres`` would load it:
    the parquet path's splits, or None for the JVM path."""
    return _parquet_splits(_load_frame(df, num_partitions))


def _write_parquet(tmp_path, rows, ddl: str, **kwargs) -> str:
    schema = to_arrow_schema(T.StructType.fromDDL(ddl))
    path = str(tmp_path / "in.parquet")
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
    pq.write_table(table, path, **kwargs)
    return path


def _parquet_frame(spark, tmp_path, rows, ddl: str):
    """``rows`` written to parquet with pyarrow and scanned bare, so the
    load takes the parquet path (asserted)."""
    df = spark.read.parquet(_write_parquet(tmp_path, rows, ddl))
    assert _fast_splits(df) is not None
    return df


def test_modes_fail_replace_append(spark, dsn, sf_dir):
    n = read_table(spark, sf_dir, "nation")
    total = copy_into_postgres(n, dsn, "t_modes", mode="replace")
    assert total == n.count() == _count(dsn, "t_modes")
    copy_into_postgres(n, dsn, "t_modes", mode="append")
    assert _count(dsn, "t_modes") == 2 * total
    with pytest.raises(RuntimeError, match="already exists"):
        copy_into_postgres(n, dsn, "t_modes", mode="fail")
    copy_into_postgres(n, dsn, "t_modes", mode="replace")
    assert _count(dsn, "t_modes") == total
    _run_psql(dsn, "DROP TABLE t_modes")


def test_full_content_roundtrip(spark, dsn, sf_dir):
    n = read_table(spark, sf_dir, "nation")
    copy_into_postgres(n, dsn, "t_content", mode="replace", num_partitions=4)
    cols = ", ".join(f'"{c}"' for c in n.columns)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in n.schema.fields
    )
    back = read_back(
        spark, dsn, f"SELECT {cols} FROM t_content ORDER BY 1", schema
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, n.collect())
    )
    _run_psql(dsn, "DROP TABLE t_content")


#: per-type fidelity rows; the bytea column is last so the parquet path,
#: which never sees bytea, loads the same rows without it
_TYPE_ROWS = [
    (
        1,
        "plain",
        Decimal("12.34"),
        datetime.datetime(2024, 2, 29, 23, 59, 59),
        datetime.date(1999, 12, 31),
        True,
        2.5,
        b"\x00\x01\xff",
    ),
    (
        2,
        'quote " comma , newline\nback \\ slash',
        None,
        None,
        None,
        False,
        None,
        None,
    ),
    (3, None, Decimal("-0.01"), None, None, None, 1e-300, b""),
]
_TYPE_DDL = (
    "id long, s string, d decimal(10,2), ts {ts}, dt date, b boolean, f double"
)


def _assert_types_load(spark, dsn, df):
    copy_into_postgres(df, dsn, "t_types", mode="replace")
    back = read_back(
        spark,
        dsn,
        "SELECT id, s, d, ts, dt, b, f FROM t_types ORDER BY id",
        "id long, s string, d decimal(10,2), ts string, dt string, "
        "b boolean, f double",
    ).collect()
    assert [r["s"] for r in back] == [
        "plain",
        'quote " comma , newline\nback \\ slash',
        None,
    ]
    assert [r["d"] for r in back] == [
        Decimal("12.34"),
        None,
        Decimal("-0.01"),
    ]
    assert back[0]["ts"] == "2024-02-29 23:59:59"
    assert back[0]["dt"] == "1999-12-31"
    assert [r["b"] for r in back] == [True, False, None]
    assert back[0]["f"] == 2.5 and back[2]["f"] == 1e-300


def test_type_fidelity_with_nulls(spark, dsn):
    df = spark.createDataFrame(
        _TYPE_ROWS, _TYPE_DDL.format(ts="timestamp") + ", raw binary"
    )
    _assert_types_load(spark, dsn, df)
    raw = _run_psql(
        dsn, "SELECT coalesce(encode(raw, 'hex'), 'NULL') FROM t_types ORDER BY id"
    )
    assert raw.splitlines() == ["0001ff", "NULL", ""]
    _run_psql(dsn, "DROP TABLE t_types")


def test_type_fidelity_with_nulls_parquet_path(spark, dsn, tmp_path):
    rows = [r[:-1] for r in _TYPE_ROWS]
    ddl = _TYPE_DDL.format(ts="timestamp_ntz")
    _assert_types_load(spark, dsn, _parquet_frame(spark, tmp_path, rows, ddl))
    _run_psql(dsn, "DROP TABLE t_types")


def test_parallel_partitions_load_once_each(spark, dsn, sf_dir):
    """8 concurrent COPY streams must neither lose nor duplicate rows."""
    o = read_table(spark, sf_dir, "orders")
    total = copy_into_postgres(o, dsn, "t_par", mode="replace", num_partitions=8)
    assert total == o.count()
    db = read_back(
        spark,
        dsn,
        "SELECT COUNT(*), COUNT(DISTINCT o_orderkey) FROM t_par",
        "n long, keys long",
    ).first()
    assert db["n"] == total
    assert db["keys"] == o.select("o_orderkey").distinct().count()
    _run_psql(dsn, "DROP TABLE t_par")


def test_arrow_csv_contract():
    """The rendering ``COPY … WITH (FORMAT csv)`` relies on: strings are
    always quoted (so ``""`` is empty text, not NULL), NULL is an
    unquoted empty field, int64 stays exact, NaN/±inf are ``nan``/
    ``inf``/``-inf``, timestamps are ISO text and a zoned timestamp is
    its wall clock in that zone plus the offset."""
    table = pa.table(
        {
            "s": pa.array(["", None, "\\N", 'a"b'], pa.string()),
            "i": pa.array([2**53 + 1, None, -1, 0], pa.int64()),
            "f": pa.array([float("nan"), float("inf"), float("-inf"), None]),
            "ts": pa.array(
                [datetime.datetime(2024, 2, 29, 23, 59, 59, 123456), None]
                + [datetime.datetime(1, 1, 1)] * 2,
                pa.timestamp("us"),
            ),
        }
    )
    buf = io.BytesIO()
    pa_csv.write_csv(
        table, buf, write_options=pa_csv.WriteOptions(include_header=False)
    )
    assert buf.getvalue().decode().splitlines() == [
        '"",9007199254740993,nan,2024-02-29 23:59:59.123456',
        ",,inf,",
        '"\\N",-1,-inf,0001-01-01 00:00:00.000000',
        '"a""b",0,,0001-01-01 00:00:00.000000',
    ]
    zoned = pa.table(
        {
            "t": pa.array(
                [datetime.datetime(2024, 3, 10, 6, 30)],  # UTC instant
                pa.timestamp("us", tz="America/New_York"),
            )
        }
    )
    buf = io.BytesIO()
    pa_csv.write_csv(
        zoned, buf, write_options=pa_csv.WriteOptions(include_header=False)
    )
    assert buf.getvalue() == b"2024-03-10 01:30:00.000000-0500\n"


_BSN_ROWS, _BSN_DDL = [(1, "\\N"), (2, ""), (3, None)], "id long, s string"


def _assert_backslash_n_is_text(spark, dsn, df):
    copy_into_postgres(df, dsn, "t_bsn", mode="replace")
    back = read_back(
        spark,
        dsn,
        "SELECT id, s IS NULL, s = E'\\\\N', s = '' FROM t_bsn ORDER BY id",
        "id long, is_null boolean, is_bsn boolean, is_empty boolean",
    ).collect()
    assert [tuple(r) for r in back] == [
        (1, False, True, False),
        (2, False, False, True),
        (3, True, None, None),
    ]
    _run_psql(dsn, "DROP TABLE t_bsn")


def test_backslash_n_text_is_not_null(spark, dsn):
    _assert_backslash_n_is_text(spark, dsn, spark.createDataFrame(_BSN_ROWS, _BSN_DDL))


def test_backslash_n_text_is_not_null_parquet_path(spark, dsn, tmp_path):
    df = _parquet_frame(spark, tmp_path, _BSN_ROWS, _BSN_DDL)
    _assert_backslash_n_is_text(spark, dsn, df)


_NAN_ROWS = [(1, float("nan")), (2, float("inf")), (3, float("-inf")), (4, None)]
_NAN_DDL = "id long, f double"


def _assert_nan_and_infinity_survive(spark, dsn, df):
    copy_into_postgres(df, dsn, "t_nan", mode="replace")
    back = read_back(
        spark,
        dsn,
        "SELECT id, f::text FROM t_nan ORDER BY id",
        "id long, f string",
    ).collect()
    assert [r["f"] for r in back] == ["NaN", "Infinity", "-Infinity", None]
    _run_psql(dsn, "DROP TABLE t_nan")


def test_nan_and_infinity_doubles_survive(spark, dsn):
    df = spark.createDataFrame(_NAN_ROWS, _NAN_DDL)
    _assert_nan_and_infinity_survive(spark, dsn, df)


def test_nan_and_infinity_doubles_survive_parquet_path(spark, dsn, tmp_path):
    df = _parquet_frame(spark, tmp_path, _NAN_ROWS, _NAN_DDL)
    _assert_nan_and_infinity_survive(spark, dsn, df)


_BIG = 2**53 + 1  # not representable as float64
# both in one batch: the NULL must not widen the column to float64
_BIG_ROWS, _BIG_DDL = [(1, _BIG), (2, None)], "id long, v long"


def _assert_bigint_exact(spark, dsn, df):
    copy_into_postgres(df, dsn, "t_big", mode="replace")
    back = read_back(
        spark,
        dsn,
        "SELECT id, v::text FROM t_big ORDER BY id",
        "id long, v string",
    ).collect()
    assert [r["v"] for r in back] == [str(_BIG), None]
    _run_psql(dsn, "DROP TABLE t_big")


def test_nullable_bigint_beyond_2_53_is_exact(spark, dsn):
    df = spark.createDataFrame(_BIG_ROWS, _BIG_DDL).coalesce(1)
    _assert_bigint_exact(spark, dsn, df)


def test_nullable_bigint_beyond_2_53_is_exact_parquet_path(spark, dsn, tmp_path):
    df = _parquet_frame(spark, tmp_path, _BIG_ROWS, _BIG_DDL)
    _assert_bigint_exact(spark, dsn, df)


@pytest.mark.parametrize("shape", ["no_partitions", "empty_partitions"])
def test_empty_input_creates_empty_table(spark, dsn, shape):
    schema = "id long, s string, raw binary"
    if shape == "no_partitions":
        df = spark.createDataFrame([], schema)
    else:
        df = (
            spark.range(10)
            .select(
                "id",
                F.col("id").cast("string").alias("s"),
                F.col("id").cast("string").cast("binary").alias("raw"),
            )
            .filter(F.col("id") < 0)
            .repartition(3)
        )
    assert copy_into_postgres(df, dsn, "t_empty", mode="replace") == 0
    assert _count(dsn, "t_empty") == 0
    _run_psql(dsn, "DROP TABLE t_empty")


def test_empty_input_creates_empty_table_parquet_path(spark, dsn, tmp_path):
    df = _parquet_frame(spark, tmp_path, [], "id long, s string")
    assert copy_into_postgres(df, dsn, "t_empty", mode="replace") == 0
    assert _count(dsn, "t_empty") == 0
    _run_psql(dsn, "DROP TABLE t_empty")


def test_copy_error_surfaces_server_message(spark, dsn):
    _run_psql(dsn, "CREATE TABLE t_bad (id bigint)")
    # one stream is one transaction: the good row before "x" rolls back
    df = spark.createDataFrame([("1",), ("x",)], "id string").coalesce(1)
    with pytest.raises(Exception, match="invalid input syntax for type bigint"):
        copy_into_postgres(df, dsn, "t_bad", mode="append")
    assert _count(dsn, "t_bad") == 0
    _run_psql(dsn, "DROP TABLE t_bad")


@pytest.mark.parametrize("num_partitions", [None, 1], ids=["parquet", "jvm"])
def test_copy_rejected_before_reading_surfaces_server_message(
    spark, dsn, sf_dir, num_partitions
):
    """A COPY the server refuses outright makes psql quit without
    reading its input; the load must still raise with psql's stderr,
    not a bare broken pipe."""
    _run_psql(dsn, "CREATE TABLE t_cols (other bigint)")
    df = read_table(spark, sf_dir, "orders")  # far more than a pipe buffer
    with pytest.raises(Exception, match='column "o_orderkey" of relation'):
        copy_into_postgres(
            df, dsn, "t_cols", mode="append", num_partitions=num_partitions
        )
    _run_psql(dsn, "DROP TABLE t_cols")


def test_sink_postgis_stage_loads_every_octet(spark, dsn, sf_dir):
    """The registry's PostGIS staging key records the in-database row
    count and bytea octet total beside its Spark-side expectation."""
    from parquet_importer_spark.suite import QUERIES  # noqa: PLC0415

    rows = {
        r["step"]: r["detail"]
        for r in QUERIES["sink_postgis"](spark, sf_dir).collect()
    }
    for step in ("live:rows_in_db", "live:octets"):
        got, want = re.fullmatch(r"(\d+) \(expected (\d+)\)", rows[step]).groups()
        assert got == want != "0", (step, rows[step])


def test_timestamp_is_session_wall_clock(spark, dsn):
    """Postgres ``timestamp`` has no zone: the loaded value is the wall
    clock of the Spark session's time zone, not the UTC instant (Arrow
    writes the zoned value with its offset, which Postgres drops)."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.createDataFrame([(1,)], "id long").selectExpr(
            "id",
            "timestamp'2024-03-10 01:30:00' AS ts",
            "timestamp_ntz'2024-03-10 01:30:00' AS ntz",
        )
        copy_into_postgres(df, dsn, "t_tz", mode="replace")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    got = _run_psql(dsn, "SELECT ts::text || '|' || ntz::text FROM t_tz")
    assert got.strip() == "2024-03-10 01:30:00|2024-03-10 01:30:00"
    _run_psql(dsn, "DROP TABLE t_tz")


@pytest.mark.parametrize(
    "table", ["lineitem", "orders", "events", "documents", "nation"]
)
def test_parquet_and_jvm_paths_load_same_content(spark, dsn, sf_dir, table):
    df = read_table(spark, sf_dir, table)
    assert _fast_splits(df) is not None
    n = copy_into_postgres(df, dsn, "t_fast", mode="replace")
    assert copy_into_postgres(df, dsn, "t_jvm", mode="replace", num_partitions=1) == n
    digest = "SELECT md5(string_agg(t::text, '|' ORDER BY t::text)) FROM {} t"
    assert _run_psql(dsn, digest.format("t_fast")) == _run_psql(
        dsn, digest.format("t_jvm")
    )
    assert _count(dsn, "t_fast") == n == df.count()
    _run_psql(dsn, "DROP TABLE t_fast; DROP TABLE t_jvm")


def _gate_case(spark, sf_dir, tmp_path, case):
    nation = read_table(spark, sf_dir, "nation")
    if case == "filter":
        return nation.filter("n_regionkey = 1")
    if case == "join":
        region = read_table(spark, sf_dir, "region")
        return nation.join(region, nation.n_regionkey == region.r_regionkey)
    if case == "computed_column":
        return nation.withColumn("k2", F.col("n_nationkey") * 2)
    if case == "bytea":
        path = _write_parquet(tmp_path, [(1, b"\x00")], "id long, raw binary")
        return spark.read.parquet(path)
    if case == "zoned_timestamp":
        rows = [(1, datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc))]
        path = _write_parquet(tmp_path, rows, "id long, ts timestamp")
        return spark.read.parquet(path)
    if case == "legacy_calendar":  # Spark rebases these dates on read
        spark.conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "LEGACY")
        try:
            spark.sql("SELECT date'1000-01-01' AS d").write.parquet(
                str(tmp_path / "legacy")
            )
        finally:
            spark.conf.unset("spark.sql.parquet.datetimeRebaseModeInWrite")
        return spark.read.parquet(str(tmp_path / "legacy"))
    if case == "hive_partitioned":
        table = pa.table({"id": pa.array([1, 2], pa.int64()), "p": ["a", "b"]})
        pq.write_to_dataset(table, str(tmp_path / "hive"), partition_cols=["p"])
        return spark.read.parquet(str(tmp_path / "hive"))
    if case == "user_schema":
        path = _write_parquet(tmp_path, [(1,)], "id int")
        return spark.read.schema("id long").parquet(path)
    if case == "nanos_read_table":
        ns = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
        table = pa.table({"ts": ns})
        pq.write_table(table, str(tmp_path / "nanos.parquet"))
        return read_table(spark, str(tmp_path), "nanos")
    raise AssertionError(case)


@pytest.mark.parametrize(
    "case",
    [
        "filter",
        "join",
        "computed_column",
        "bytea",
        "zoned_timestamp",
        "legacy_calendar",
        "hive_partitioned",
        "user_schema",
        "nanos_read_table",
    ],
)
def test_gate_sends_other_frames_to_jvm_path(spark, sf_dir, tmp_path, case):
    assert _fast_splits(_gate_case(spark, sf_dir, tmp_path, case)) is None


def test_gate_takes_bare_scans_and_projections(spark, sf_dir):
    nation = read_table(spark, sf_dir, "nation")
    splits = _fast_splits(nation)
    assert [rg for _, rg in splits] == [0]
    assert _fast_splits(nation.select("n_name", "n_nationkey")) == splits
    for n in (1, 4):
        assert _fast_splits(nation, num_partitions=n) is None


def test_each_row_group_is_one_task(spark, dsn, tmp_path):
    rows = [(i, f"r{i}") for i in range(3000)]
    path = _write_parquet(tmp_path, rows, "id long, s string", row_group_size=1000)
    df = spark.read.parquet(path)
    assert [rg for _, rg in _fast_splits(df)] == [0, 1, 2]
    sc = spark.sparkContext
    sc.setJobGroup("copy_row_groups", "three-row-group parquet load")
    try:
        assert copy_into_postgres(df, dsn, "t_rg", mode="replace") == 3000
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup("copy_row_groups")
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert 3 in tasks, tasks
    assert _count(dsn, "t_rg") == 3000
    assert _run_psql(dsn, "SELECT count(DISTINCT id) FROM t_rg").strip() == "3000"
    _run_psql(dsn, "DROP TABLE t_rg")


def test_one_failed_stream_fails_the_load(spark, dsn, tmp_path):

    # enough batches that every core gets a stream; only the last batch,
    # so only one stream, holds rows the CHECK rejects
    n = _BATCH_ROWS * (spark.sparkContext.defaultParallelism + 1)
    path = str(tmp_path / "check.parquet")
    pq.write_table(pa.table({"id": pa.array(range(n), pa.int64())}), path)
    df = spark.read.parquet(path)
    assert _fast_splits(df) is not None
    _run_psql(dsn, f"CREATE TABLE t_check (id bigint CHECK (id < {n - 10}))")
    with pytest.raises(Exception, match="violates check constraint"):
        copy_into_postgres(df, dsn, "t_check", mode="append")
    left = "SELECT count(*) FROM pg_stat_activity WHERE query LIKE 'COPY t_check%'"
    for _ in range(100):  # a killed psql's backend exits on its next read
        if _run_psql(dsn, left).strip() == "0":
            break
        time.sleep(0.1)
    assert _run_psql(dsn, left).strip() == "0"
    assert _count(dsn, "t_check") < n
    _run_psql(dsn, "DROP TABLE t_check")
